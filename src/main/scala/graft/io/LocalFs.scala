package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** Hadoop's local filesystem without child processes.
  *
  * Without the native Hadoop library (`NativeIO.isAvailable` false),
  * Hadoop's `RawLocalFileSystem` runs `chmod` for every file and directory
  * it creates, and `readlink` for every `getFileLinkStatus` — two per path
  * in each FileContext rename. A micro-batch's offset and commit logs, its
  * state-store commits and the parquet sink's commit all wait on them.
  * [[ForkFreeRawLocalFileSystem]] makes both calls in-process; every file,
  * `.crc` sidecar, permission bit and rename semantic stays Hadoop's.
  *
  * [[install]] binds it for both Hadoop APIs:
  *  - FileContext (`fs.AbstractFileSystem.file.impl`): the offset and
  *    commit logs and the state stores of both state-store providers;
  *  - FileSystem (`fs.file.impl`): the `FileOutputCommitter` of the sink.
  */
object LocalFs {

  /** Hadoop configuration key → value. */
  private[graft] val Bindings: Seq[(String, String)] = Seq(
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    // the `file:` FileSystem is cached before any program code runs, and
    // the cache key ignores the configuration
    "fs.file.impl.disable.cache" -> "true")

  /** Binds the fork-free local filesystem in the Hadoop configuration of
    * the session's SparkContext, which every session of that context, and
    * every query and write it starts, copies. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Bindings.foreach { case (k, v) => if (conf.get(k) != v) conf.set(k, v) }
  }
}

/** `RawLocalFileSystem` whose `setPermission` and `getFileLinkStatus` run
  * in-process. Where the in-process call could differ from Hadoop's, it
  * defers to Hadoop's own path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  /** Hadoop runs `chmod %04o` here. NIO cannot set the sticky bit, and
    * clears a directory's setuid/setgid bits that GNU `chmod` keeps for a
    * four-digit mode; those cases take Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (NativeIO.isAvailable || !UnixView || permission.getStickyBit || keepsSpecialBits(file))
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(file, posix(permission.toShort))
  }

  /** Hadoop runs `readlink` on the path string; for a `file:`-qualified
    * path that always fails, and it then returns `getFileStatus`. Only a
    * real symlink takes Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val UnixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  // OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 .. 0001
  private val PermBits =
    PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PermBits.foreach { case (p, bit) => if ((mode & bit) != 0) perms.add(p) }
    perms
  }

  private def keepsSpecialBits(file: NioPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0 // S_IFDIR, S_ISUID | S_ISGID
  }
}

/** FileSystem API: Hadoop's `LocalFileSystem` (`.crc` checksums) over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext API: `org.apache.hadoop.fs.local.RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]] (Hadoop's constructors are not public). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** FileContext API: `org.apache.hadoop.fs.local.LocalFs` (`.crc`
  * checksums) over [[ForkFreeRawLocalFs]]. Hadoop builds it reflectively
  * from (URI, Configuration); like Hadoop's, it always serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))

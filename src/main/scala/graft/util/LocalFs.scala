package graft.util

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system without a process per file.
  *
  * Without `libhadoop`, Hadoop's [[RawLocalFileSystem]] forks
  * `chmod` for every file and directory it creates with a mode and
  * `readlink` for every link check (which `FileContext.rename` makes
  * on both ends). A streaming query writes several files per
  * micro-batch to its offset and commit logs and its state store, so
  * those forks set the per-batch cost of the vote pipeline. This
  * subclass answers both questions in-process and keeps the stock
  * code where the answers could differ:
  *
  *  - [[setPermission]] applies the same nine mode bits through
  *    `java.nio`. A mode carrying a setuid, setgid or sticky bit,
  *    asked for or already on the file, goes to the stock `chmod`,
  *    because `chmod` keeps those bits on directories when the
  *    numeric mode does not name them and `java.nio` cannot express
  *    them.
  *  - [[getFileLinkStatus]] returns [[getFileStatus]] unless the path
  *    is a symbolic link, and asks the stock code otherwise. It reads
  *    the path as the stock check does (`new File(f.toString)`): that
  *    check never sees a scheme-qualified path as a link, so such a
  *    path, which is what `FileContext` passes, never forks either.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    if (((permission.toShort | current) & LocalFs.SpecialBits) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the [[org.apache.hadoop.fs.FileSystem]] API: the stock
  * checksum layer (`.crc` sidecars written and verified) over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** [[ForkFreeRawLocalFileSystem]] for the [[org.apache.hadoop.fs.FileContext]]
  * API, configured as the stock `RawLocalFs` is.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the [[org.apache.hadoop.fs.FileContext]] API, which
  * Spark's checkpoint and state-store files go through: the stock
  * checksum layer over [[ForkFreeRawLocalFs]].
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object LocalFs {

  /** setuid, setgid and sticky: octal 7000. */
  private[util] val SpecialBits = 0xe00

  /** Spark settings that resolve `file:` to the classes above for both
    * Hadoop file APIs.
    */
  val sparkConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
  )
}

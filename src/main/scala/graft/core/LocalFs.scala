package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its per-call child processes.
  *
  * Without libhadoop, `RawLocalFileSystem` forks `chmod` for every
  * `setPermission` — which every file create and every mkdir makes — and
  * `readlink` for every `getFileLinkStatus`, which FileContext's
  * rename-with-overwrite makes on each checkpoint commit. This class sets
  * the same nine mode bits through NIO, and asks `readlink` only about a
  * path that is a symbolic link; everything else is the stock class. The
  * [[LocalFs.Fs]] and [[LocalFs.Fc]] wrappers put it under the FileSystem
  * and the FileContext APIs, with their stock `.crc` checksums;
  * [[Sessions.local]] registers both for the `file:` scheme.
  */
class LocalFs extends RawLocalFileSystem {

  /** NIO's `chmod(2)` writes only the nine rwx bits, where `chmod 0750`
    * keeps a directory's setuid/setgid bits and writes the sticky bit:
    * a request or a target with any of those bits takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort & 0x1ff
    val special = permission.toShort != mode ||
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0
    if (special) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, LocalFs.bits(mode))
  }

  /** The stock method reads the link of `new File(f.toString)` and, when
    * that is no link, returns `getFileStatus(f)`: the same test through
    * NIO skips the `readlink` child for every path that is not a link.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {
  /** The enum runs from OWNER_READ (mode bit 8) to OTHERS_EXECUTE (bit 0). */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (b, i) if (mode >> (8 - i) & 1) == 1 => b }.toSet.asJava

  /** `fs.file.impl`: the checksummed FileSystem (a `LocalFileSystem`, so
    * `FileSystem.getLocal` still casts) over [[LocalFs]]. Like Hive's
    * `ProxyLocalFileSystem`, which Spark's jars otherwise register for
    * `file:`, it refuses a rename onto an existing file (the FileSystem
    * contract, and HDFS's behaviour) where `RawLocalFileSystem` would
    * replace it.
    */
  class Fs extends LocalFileSystem(new LocalFs) {
    override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
  }

  /** `fs.AbstractFileSystem.file.impl`: the FileContext counterpart of
    * Hadoop's `local.LocalFs`, a `ChecksumFs` over [[LocalFs]].
    */
  class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(uri, conf))

  /** Hadoop's `local.RawLocalFs` (package-private there) over [[LocalFs]]. */
  private class RawFc(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}

package graftbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its two shell-outs done in-process.
  *
  * Without Hadoop's native library, RawLocalFileSystem runs `chmod` for
  * every file it creates and `readlink` for both ends of every rename.
  * A streaming batch writes a handful of checkpoint files (offset log,
  * commit log, one delta and one checksum file per state store), so the
  * listener's latency was half process start-up, and the cost of
  * starting processes concurrently from the JVM varied threefold between
  * JVMs on the same host. These overrides do the same work through
  * java.nio: the files, renames and permissions stay as they were. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(perm))

  /** Only a symbolic link needs the link target that `readlink` gives. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The FileSystem API's `file:` scheme over [[ForklessRawLocalFileSystem]]. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The FileContext API's `file:` scheme, which Spark's checkpoint files
  * go through, over [[ForklessRawLocalFileSystem]], with CRC files as in
  * Hadoop's LocalFs. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessRawLocalFileSystem, conf, "file", false)

object LocalFs {
  /** Session settings that route `file:` paths through the classes above. */
  val conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)

  private val bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ, 0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE, 0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE, 0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ, 0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  def posix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = perm.toShort.toInt
    bits.collect { case (bit, p) if (mode & bit) != 0 => p }.toSet.asJava
  }
}

package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem`, except that a file mode is set
  * in-process: without Hadoop's native library, the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for every
  * file, `.crc` sidecar and directory a write creates (README, "Count
  * files, not bytes"). Here it is one `chmod(2)` through `java.nio`;
  * everything else, `.crc` sidecars included, is the stock behaviour.
  *
  * graft's writes to `file:` paths select it per write, never per session:
  * a DataFrame write passes [[NioLocalFileSystem.WriteOptions]] as writer
  * options, which Spark copies into the write job's Hadoop conf for the
  * driver-side committer and the executor-side writers, and a driver-side
  * file write resolves its FileSystem with a conf copy carrying the same
  * keys. Reads and the session's shared Hadoop conf keep the stock
  * FileSystem.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The Hadoop keys that route a write's `file:` paths here. The cache
    * key is needed because Hadoop caches a FileSystem per scheme and user:
    * a `file:` instance made earlier in the JVM would otherwise win, and
    * with it that instance's conf (umask included).
    */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `RawLocalFileSystem` with an in-process `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      // NIO has no sticky bit: such a mode goes to Hadoop's own path
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val file = pathToFile(p)
        try Files.setPosixFilePermissions(file.toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch {
          case _: NoSuchFileException => throw new FileNotFoundException(s"File $file does not exist")
          case _: UnsupportedOperationException => super.setPermission(p, permission)
        }
      }
  }
}

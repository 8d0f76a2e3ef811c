package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of every [[GraftSession]]: Hadoop's checksummed
  * `LocalFileSystem` over a raw filesystem that sets POSIX permissions
  * with `java.nio` instead of a `chmod` process.
  *
  * Without libhadoop on the classpath, Hadoop's `RawLocalFileSystem`
  * forks `chmod` for every permission it sets: each file it creates and
  * each directory it makes, part files, `.crc` files and committer
  * directories alike. Same mode bits, no process. A mode with the sticky
  * bit, which `java.nio` cannot express, still goes through Hadoop.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }

  /** The Hadoop conf key that selects it. */
  val ConfKey = "fs.file.impl"

  /** Makes the JVM's cached `file:` FileSystem this class. Hadoop caches
    * one `file:` FileSystem per user for the whole JVM, keyed without
    * the conf that asked for it, so one created before any GraftSession
    * (a bare Hadoop call, another session) would shadow
    * [[ConfKey]]. Such an instance is closed, which only drops it from
    * the cache: a local FileSystem holds no resource. */
  def install(): Unit = synchronized {
    val conf = new Configuration()
    conf.set(ConfKey, classOf[NioLocalFileSystem].getName)
    val root = URI.create("file:///")
    val fs = FileSystem.get(root, conf)
    if (!fs.isInstanceOf[NioLocalFileSystem]) {
      fs.close()
      FileSystem.get(root, conf)
    }
  }
}

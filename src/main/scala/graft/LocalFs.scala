package graft

import java.nio.file.{Files, LinkOption, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with file permissions set
  * in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and a write calls it about eleven times
  * (the committer's job and task directories, each part file and its
  * `.crc`, `_SUCCESS` and its `.crc`): 3–5 ms a fork. This file system
  * sets the same mode bits through `java.nio`, and falls back to
  * Hadoop's own path for the sticky bit, which `java.nio` cannot set,
  * and for a store with no POSIX view.
  *
  * `ChFunctions.register` installs it as a session's `file:` scheme.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** The `fs.file.impl` value that installs it. */
  val Impl: String = classOf[LocalFs].getName

  /** Deletes `root` and everything under it, children before their
    * directory; a missing `root` is a no-op. */
  def deleteTree(root: NioPath): Unit =
    if (Files.exists(root, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

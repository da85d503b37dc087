package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, except that it sets a file mode with
  * `java.nio` instead of forking `chmod`. Without libhadoop,
  * `RawLocalFileSystem.setPermission` starts a `chmod` process, about
  * 4 ms, and `create`, `mkdirs` and every `.crc` companion reach it, so
  * a KB-scale replay waited on about 77 of them for much of its wall
  * time. Everything else is inherited: the same files, checksum
  * companions, modes and renames. A replay routes its scratch I/O here
  * with [[ScratchFileSystem.conf]] (see `StreamGate.replayConf`). */
final class ScratchFileSystem extends LocalFileSystem(new ScratchFileSystem.Raw)

object ScratchFileSystem {

  /** Called with each path whose mode this class set without a fork:
    * a probe for specs, a no-op otherwise. */
  @volatile private[graft] var onModeSet: Path => Unit = _ => ()

  /** The Hadoop settings that route `file://` paths to this class, for
    * a session's conf or a writer's options. Hadoop caches a
    * `FileSystem` by scheme, authority and user, not by conf, so
    * without `disable.cache` a conf that names this class still gets
    * the JVM's cached `file://` filesystem. */
  private[graft] val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ScratchFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private[streaming] final class Raw extends RawLocalFileSystem {
    /** Sets the nine permission bits as `chmod` would, following a
      * symlink as it does. A sticky bit, or a filesystem without POSIX
      * modes, goes to Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // "rwxr-x---": not permission.toString, which FsCreateModes
        // overrides
        val mode = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath,
            PosixFilePermissions.fromString(mode))
          onModeSet(p)
        } catch {
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
  }
}

package graft.table

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem with permissions set in-process. Without
  * libhadoop, `RawLocalFileSystem.setPermission` forks `/bin/chmod` — once
  * per data file, per `.crc` sidecar and per committer directory, which made
  * process spawns the largest off-CPU cost of a parquet write. This sets the
  * same mode bits through java.nio; a sticky bit (which java.nio's POSIX
  * permission set cannot express) falls back to the parent.
  *
  * Used by the table's task writers and, through
  * [[graft.streaming.ForkFreeCheckpointFileManager]], by the streaming
  * checkpoint (offsets, commits, source/sink logs, state store). The
  * checkpoint had a second fork: Spark's default manager renames through
  * `FileContext`, whose rename reads the destination's link status, and
  * Hadoop's `FileUtil.readLink` starts `readlink`. `FileSystem.rename` here
  * is `File.renameTo` and starts nothing.
  */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
}

/** The checksummed local filesystem (`.crc` sidecars, verified reads) over
  * [[ForkFreeRawLocalFileSystem]].
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

object ForkFreeLocalFileSystem {
  /** Hadoop conf entries — also valid DataFrameWriter options — that resolve
    * `file:` to [[ForkFreeLocalFileSystem]]. Hadoop caches filesystems by
    * scheme, not by conf, so a conf carrying these bypasses that cache for
    * `file:` (a fresh instance per lookup; local instances hold no resources).
    */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

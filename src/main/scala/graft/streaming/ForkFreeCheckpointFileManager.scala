package graft.streaming

import graft.table.ForkFreeLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.internal.SQLConf

/** The checkpoint file manager of every engine stream: the offsets, commits
  * and source/sink logs, and the state-store files.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, starts
  * `/bin/chmod` for every temp file it creates and `readlink` for every
  * rename (`FileContext.rename` checks the destination's link status, and
  * Hadoop's `FileUtil.readLink` shells out) — about 30 processes per
  * micro-batch, the largest part of a small trigger's fixed cost. For `file:`
  * paths this is Spark's `FileSystemBasedCheckpointFileManager` over
  * [[ForkFreeLocalFileSystem]]: permissions go through java.nio and the
  * rename through `File.renameTo`, so no process starts. The on-disk layout
  * (temp file, `.crc` sidecar, rename into place) is the same, so either
  * manager resumes the other's checkpoints. A no-overwrite `createAtomic`
  * checks the destination before renaming, as Spark's default does on a
  * local filesystem: both rely on one active query per checkpoint.
  *
  * Every other scheme gets exactly the manager Spark would have picked.
  */
final class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ForkFreeCheckpointFileManager.Key)
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") {
      ForkFreeLocalFileSystem.conf.foreach { case (k, v) => conf.set(k, v) }
      new FileSystemBasedCheckpointFileManager(path, conf)
    } else CheckpointFileManager.create(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object ForkFreeCheckpointFileManager {
  /** Spark's own key naming the checkpoint file manager class. */
  val Key: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Make [[ForkFreeCheckpointFileManager]] the checkpoint file manager of
    * `spark`, unless the key is already set. Every engine stream start calls
    * this before it starts its query, on the caller's session (not a clone:
    * the caller's `StreamingQueryManager` carries its listeners).
    *
    * Session scope: `spark.conf.set` is session-wide and stays set, so every
    * later stream on this session — the engine's or not — uses this manager
    * too. A value already set, in the session conf or in the SparkContext's
    * Hadoop conf, is the user's choice of manager and is left as it is.
    */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(Key).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(Key) == null)
      spark.conf.set(Key, classOf[ForkFreeCheckpointFileManager].getName)
}

package graft.table

import graft.model.Model
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}

/** Write-side stats of one data file, tracked as its rows stream into the
  * writer: row and tombstone counts, conv/turn/ts bounds, the conv bloom and
  * (opt-in) a token bloom over whitespace-split `text`. The one tracker
  * behind every engine-written file, so each manifest entry gets its
  * [[FileStats]] at zero added I/O.
  *
  * Rows may come from a reused buffer: the held extrema are cloned on update
  * (rare after the first rows); the blooms hash the bytes in place.
  */
final class FileStatsTracker(schema: StructType, textIndex: Boolean = false) {
  private val convI = schema.fieldIndex("conv_id")
  private val turnI = schema.fieldIndex("turn_idx")
  private val tsI = schema.fieldIndex("ts")
  private val opI = schema.fieldIndex("op")
  private val textI = if (textIndex) schema.fieldIndex("text") else -1
  var rows = 0L
  var tombstones = 0L
  private var minConv: UTF8String = null
  private var maxConv: UTF8String = null
  private var minTurn = Int.MaxValue
  private var maxTurn = Int.MinValue
  private var minTs = Long.MaxValue
  private var maxTs = Long.MinValue
  private val convBloom = ConvBloom.empty()
  private val tokBloom = if (textIndex) ConvBloom.empty() else null

  def track(r: InternalRow): Unit = {
    rows += 1
    if (Model.isDelete(r, opI)) tombstones += 1
    val c = r.getUTF8String(convI)
    if (minConv == null || c.binaryCompare(minConv) < 0) minConv = c.clone()
    if (maxConv == null || c.binaryCompare(maxConv) > 0) maxConv = c.clone()
    ConvBloom.add(convBloom, c)
    val t = r.getInt(turnI)
    if (t < minTurn) minTurn = t
    if (t > maxTurn) maxTurn = t
    // null-ts rows are excluded from the ts bounds — sound, a null ts
    // satisfies no ts predicate
    if (!r.isNullAt(tsI)) {
      val ts = r.getLong(tsI)
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
    }
    if (textIndex && !r.isNullAt(textI)) {
      r.getUTF8String(textI).toString.split("\\s+").foreach { tok =>
        if (tok.nonEmpty) ConvBloom.add(tokBloom, UTF8String.fromString(tok))
      }
    }
  }

  def stats: Option[FileStats] =
    if (rows == 0) None
    else Some(FileStats(minConv.toString, maxConv.toString, minTurn, maxTurn,
      ConvBloom.seal(convBloom), if (textIndex) ConvBloom.seal(tokBloom) else None,
      if (minTs == Long.MaxValue) None else Some(minTs),
      if (maxTs == Long.MinValue) None else Some(maxTs)))
}

/** One task-written data file: its bucket, its manifest entry (path, bytes,
  * stats), and its row and tombstone counts — everything the driver commits,
  * carried back in the task's result so no file is listed or re-opened.
  */
final case class WrittenFile(bucket: Int, entry: FileEntry, rows: Long, tombstones: Long)

object WrittenFile {
  /** Task-written files keyed by bucket: manifest entries (path order), rows
    * and tombstones — what a commit puts in its manifest and `bucketRows`.
    */
  final case class ByBucket(files: Map[Int, Seq[FileEntry]], rows: Map[Int, Long],
      tombstones: Map[Int, Long])

  def byBucket(written: Seq[WrittenFile]): ByBucket = {
    val g = written.groupBy(_.bucket)
    ByBucket(g.map { case (b, ws) => b -> ws.map(_.entry).sortBy(_.path) },
      g.map { case (b, ws) => b -> ws.map(_.rows).sum },
      g.map { case (b, ws) => b -> ws.map(_.tombstones).sum })
  }
}

/** One bucket data file written from a task or a driver thread, through
  * Spark's parquet writer ([[WriteBridge]]) — every lake-table data file is
  * written by one: replay, COW merge, MOR append, compaction, rebucket and
  * the SQL tombstone carry through [[BucketFileWriter.write]], the SQL row-level
  * write and the streaming sink through their per-task bucket router. The
  * name carries the partition and the task attempt, so retried and
  * speculative attempts never collide; an unused attempt's file is simply
  * never referenced (vacuum sweeps it), and a failed one is deleted by
  * [[abort]]. `textIndex` adds the token bloom to the file's stats.
  */
final class BucketFileWriter(writers: WriteBridge.TaskWriterFactory, dir: String,
    val bucket: Int, partitionId: Int, taskId: Long, textIndex: Boolean = false) {
  private val path = {
    val d = Paths.get(dir, s"bucket=$bucket")
    Files.createDirectories(d)
    d.resolve(f"part-$bucket%05d-p$partitionId-t$taskId.parquet").toString
  }
  private val out = writers.open(path, partitionId, taskId)
  private val tracker = new FileStatsTracker(writers.schema, textIndex)

  def write(r: InternalRow): Unit = { tracker.track(r); out.write(r) }

  def commit(): WrittenFile = {
    out.close()
    val bytes = Files.size(Paths.get(path))
    WriteBridge.recordOutput(bytes, tracker.rows)
    WrittenFile(bucket, FileEntry(path, bytes, tracker.stats), tracker.rows, tracker.tombstones)
  }

  /** Close and delete the partial file and its checksum sidecar. */
  def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    val p = Paths.get(path)
    Seq(p, p.resolveSibling(s".${p.getFileName}.crc")).foreach { f =>
      try Files.deleteIfExists(f) catch { case _: Exception => () }
    }
  }
}

object BucketFileWriter {

  /** Test seam: runs right after [[write]] opened its bucket's file, with
    * the bucket id, in a task or on a driver thread. Specs throw here to
    * fail one bucket's write mid-file. No-op in production.
    */
  private[graft] var afterBucketFileOpen: Int => Unit = _ => ()

  /** The one bucket-aligned write: `rows` become `bucket`'s one file, named
    * for write attempt `taskId` (a task's attempt id, or a driver task id
    * for a driver write). A failure deletes the partial file before it
    * propagates; files of a failed apply's other buckets are never
    * referenced, and vacuum sweeps them.
    */
  def write(writers: WriteBridge.TaskWriterFactory, dir: String, bucket: Int, taskId: Long,
      rows: Iterator[InternalRow], textIndex: Boolean = false): WrittenFile = {
    val w = new BucketFileWriter(writers, dir, bucket, bucket, taskId, textIndex)
    try {
      afterBucketFileOpen(w.bucket)
      rows.foreach(w.write)
      w.commit()
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** [[write]] every non-empty partition of a bucket-aligned RDD (partition
    * i holds bucket i's rows) and collect the files. collect() carries
    * successful attempts only, so retries and speculation cannot inflate
    * the counts, and the commit needs no listing and no footer reads.
    */
  def writeAll(rows: RDD[InternalRow], writers: WriteBridge.TaskWriterFactory,
      dir: String, textIndex: Boolean = false): Seq[WrittenFile] =
    rows.mapPartitions { it =>
      val tc = TaskContext.get()
      if (it.hasNext) Iterator(write(writers, dir, tc.partitionId(), tc.taskAttemptId(), it,
        textIndex))
      else Iterator.empty
    }.collect().toSeq
}

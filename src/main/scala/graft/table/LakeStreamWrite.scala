package graft.table

import graft.model.Model
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.WriteBridge
import org.apache.spark.sql.types.StructType

/** The native exactly-once streaming sink:
  * `df.writeStream.format("lake").option("path", root)` (or
  * `.toTable("cat.tbl")`) — the DSv2 face of the ingest tail.
  *
  * Each micro-batch is an LSM "L0 append", exactly the engine's MOR apply
  * reshaped for the executor-writes/driver-commits split:
  *
  *   - TASKS stream their partition's rows straight into per-bucket delta
  *     parquet files ([[LakeBucketDataWriter]] over [[WriteBridge]]) — no
  *     driver handoff, no second job per batch; the epoch's staging dir is
  *     unique per query RUN, and file names carry (partition, task attempt),
  *     so retries and speculation never collide.
  *   - the DRIVER's `commit(epochId, …)` is O(touched) metadata: one delta
  *     manifest referencing the tasks' files, appended under OCC. A lost CAS
  *     ALWAYS rebases — delta appends commute with any concurrent commit
  *     because the read/compact LWW fold is associative and
  *     order-independent.
  *   - EXACTLY-ONCE: batchId = epochId under the writer ledger (writerId
  *     defaults to the streaming queryId, which the checkpoint preserves
  *     across restarts) — a replayed epoch after resume is detected on the
  *     driver and its already-staged files are dropped, never committed
  *     twice. This is the same ledger contract the foreachBatch tail
  *     ([[graft.streaming.CdcStream]]) uses; the two sinks are
  *     interchangeable mid-stream.
  *
  * Scope (documented, not hidden): the DSv2 schema hides the internal `op`
  * column, so this sink APPENDS insert events — an UPSERT sink under the
  * table's LWW (a later (ts, seq) for a key supersedes at read/compact
  * time). Full CDC including deletes runs through [[graft.streaming
  * .CdcStream]], whose foreachBatch apply sees the `op` column.
  */
private[table] final class LakeStreamingWrite(
    root: String, info: LogicalWriteInfo) extends StreamingWrite {

  private val table = LakeTable.open(root)
  private val writerId =
    Option(info.options().get("writerId")).getOrElse(s"stream-${info.queryId()}")
  private val mode = Option(info.options().get("mode")).map(_.toLowerCase)
  require(mode.forall(_ == "mor"),
    "the lake streaming sink is the delta-append (mor) path; omit `mode` or pass mor " +
      "— use CdcStream/foreachBatch for COW micro-batches")
  // Plan-time schema contract: every read fold accesses the key/version
  // columns positionally (BucketLocal.keyIdx), so a stream missing one —
  // e.g. a seq-less upsert feed — would COMMIT fine (the task writer only
  // hashes conv_id/turn_idx) and then fail every subsequent read, compaction
  // and DSv2 scan until manual metadata surgery. Fail the query at plan
  // time instead, and pin the types (on a fresh table there is no snapshot
  // merge to reject a retyped key column at commit).
  locally {
    val pinned = Model.changeEventSchema.fields
      .filter(f => (Model.KeyCols ++ Model.VersionCols).contains(f.name))
    val byName = info.schema().fields.map(f => f.name -> f.dataType).toMap
    pinned.foreach { f =>
      byName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"lake streaming sink requires column '${f.name}' (${f.dataType.simpleString}) " +
            s"— the table's key/version columns are ${(Model.KeyCols ++ Model.VersionCols).mkString(", ")}")
        case Some(dt) if dt != f.dataType => throw new IllegalArgumentException(
          s"lake streaming sink column '${f.name}' must be ${f.dataType.simpleString} " +
            s"(got ${dt.simpleString}): key/version columns never retype")
        case _ => ()
      }
    }
  }

  // unique per query RUN: a replayed epoch post-resume must not overwrite
  // the COMMITTED files its first incarnation wrote
  private val runDir = table.attemptDir(0L, writerId, 0L)

  // Files are written in the STREAM's schema (+op); the snapshot schema is
  // the merge with the table's — a table column the stream lacks reads back
  // null via parquet schema clipping (the additive-evolution contract), and
  // an incompatible retype fails the merge loudly at commit.
  private val fileSchema: StructType = withOp(info.schema())
  private def withOp(s: StructType): StructType =
    if (s.fieldNames.contains("op")) s
    else StructType(s.fields :+ org.apache.spark.sql.types.StructField(
      "op", org.apache.spark.sql.types.StringType, nullable = false))

  override def createStreamingWriterFactory(pInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    java.nio.file.Files.createDirectories(runDir)
    new LakeStreamWriterFactory(
      WriteBridge.parquetWriterFactory(SparkSession.active, fileSchema),
      info.schema(), fileSchema, table.numBuckets, runDir.toString)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // epoch delta files carry their key bounds (tracked in the task writer)
    // — sink-written deltas are skippable by point lookups like every other
    // delta, at zero added I/O
    val written = WrittenFile.byBucket(
      messages.toSeq.flatMap(_.asInstanceOf[LakeReplaceMessage].files))
    val newFiles = written.files
    if (newFiles.isEmpty) return // idle trigger: no orphan version
    val base = table.currentSnapshot()
    if (base.exists(_.applied(writerId, epochId))) {
      // checkpoint replay after resume: the ledger already carries this
      // epoch — exactly-once means this attempt's files must die
      abort(epochId, messages)
      return
    }
    base.foreach(table.checkBuckets) // rebucketed mid-stream: restart the query
    val change = TableChange(Ledger.Batch(writerId, epochId), fileSchema.json,
      Seq(ManifestRef(table.writeManifest(base.map(_.version).getOrElse(0L) + 1, newFiles),
        newFiles.keySet, delta = true)),
      replaced = Set.empty, rows = written.rows,
      metrics = Map(
        "batchRows" -> written.rows.values.sum,
        "touchedBuckets" -> newFiles.size.toLong,
        "streamEpoch" -> epochId))
    CommitBuilder.commit(table, base, change, CommitBuilder.Rebase) match {
      case _: CommitBuilder.AlreadyApplied => abort(epochId, messages) // a split-brain twin landed it
      case _ => ()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).flatMap(_.asInstanceOf[LakeReplaceMessage].files)
      .foreach { f =>
        try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.entry.path))
        catch { case _: Exception => () }
      }
}

private final class LakeStreamWriterFactory(
    writers: WriteBridge.TaskWriterFactory,
    inputSchema: StructType,
    tableSchema: StructType,
    numBuckets: Int,
    runDir: String) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new LakeBucketDataWriter(writers, inputSchema, tableSchema, numBuckets,
      s"$runDir/e$epochId", partitionId, taskId)
}

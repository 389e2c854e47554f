package graft.table

import graft.model.Model
import graft.operators.BucketLocal
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Literal, Murmur3Hash, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graftbridge.{ScanBridge, WriteBridge}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL `MERGE INTO` / `UPDATE` (and predicate-untranslatable `DELETE`) on
  * lake tables, via Spark's GROUP-BASED row-level operation framework —
  * where the group IS the engine's bucket, its native copy-on-write rewrite
  * unit.
  *
  * How the pieces line up with Spark's rewrite (RewriteMergeIntoTable /
  * RewriteUpdateTable / RewriteDeleteFromTable → ReplaceData):
  *
  *   - the TARGET SCAN is the ordinary lake scan ([[LakeScanBuilder]]) with
  *     an `onPlan` hook: after static pushdown ∩ runtime group filtering
  *     (Spark's RowLevelOperationRuntimeGroupFiltering drives the scan's
  *     existing `SupportsRuntimeFiltering` with the matched rows' keys), the
  *     scan reports exactly which buckets it planned — those are the groups
  *     whose full replacement content Spark will hand the write.
  *   - the WRITE declares `RequiresDistributionAndOrdering` clustered on the
  *     table's bucket transform, so Spark shuffles the replacement rows ONCE
  *     and each bucket's rows arrive at a single task; tasks stream rows
  *     into per-bucket parquet files through Spark's own writer
  *     ([[WriteBridge]]) — the driver never touches data.
  *   - COMMIT is O(touched) metadata: scanned buckets' old files are masked
  *     out of the manifest list and the new files take their place; rows the
  *     statement produced for UNSCANNED buckets (e.g. NOT-MATCHED inserts
  *     hashing elsewhere) become a DELTA manifest — an LSM append folded by
  *     the read path, never a blind rewrite of groups Spark didn't read.
  *
  * CDC-invariant preservation: the SQL scan folds tombstones out, so a naive
  * group replacement would DROP the replaced buckets' tombstones, and a row
  * the statement deleted (`DELETE` with a subquery, `MERGE … WHEN MATCHED
  * THEN DELETE`) would simply vanish — either way a stale out-of-order
  * insert could resurrect a deleted turn. Instead the commit folds just the
  * replaced buckets' old files and reads their replacement keys (one
  * bucket-aligned pass over the groups already being rewritten — same cost
  * class as the op itself): each bucket's task keeps its winning tombstones
  * and gives every deleted key — a live winner with no replacement row — a
  * tombstone at (ts, seq + 1), the one a translatable `DELETE` writes. It
  * writes them as one file with [[FileStats]], and the commit carries them
  * as a delta manifest. LWW is associative, so the tombstones fold correctly
  * against the replacement rows: a key the statement re-inserted with a
  * NEWER (ts, seq) lives; a pre-delete replay stays dead — exactly the
  * engine's contract everywhere else.
  *
  * Concurrency: same OCC as every other writer. A lost CAS whose winner left
  * the touched buckets' file lists unchanged is rebased (pure metadata); a
  * winner that changed them means the replacement content is stale — the
  * statement FAILS with a concurrent-modification error and must be re-run
  * (Spark cannot re-execute the rewrite plan from inside the connector).
  */
final class LakeRowLevelOperationBuilder(root: String, info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = new LakeRowLevelOperation(root, info)
}

final class LakeRowLevelOperation(root: String, info: RowLevelOperationInfo)
    extends RowLevelOperation {
  private val table = LakeTable.open(root)
  private[table] val snap = table.currentSnapshot().getOrElse(
    throw new IllegalArgumentException(s"lake: table at $root has no committed snapshot"))

  /** Set by the target scan at plan time (None until planned): the groups
    * the replacement output stands for. Spark plans the scan before it runs
    * the write job, so the write's commit always observes the final value.
    */
  @volatile private[table] var scannedBuckets: Option[Set[Int]] = None

  override def command(): RowLevelOperation.Command = info.command()
  override def description(): String = s"lake.${info.command()}(`$root`, v${snap.version})"

  /** Forcing the `_bucket` metadata column through the rewrite plan is what
    * buys group pruning AND the clean write protocol: the runtime group
    * filter becomes `_bucket IN (matched groups)` (translatable), and the
    * write gets a metadata projection, so rows arrive projected with the
    * bucket alongside (DataAndMetadataWritingSparkTask) instead of the raw
    * `[__row_operation] ++ row` fallback layout.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(LakeSource.BucketCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(table, snap, planned => { scannedBuckets = Some(planned) },
      rowLevel = true)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new LakeReplaceDataWrite(
        LakeRowLevelOperation.this, table, snap, writeInfo)
    }
}

/** The group-replacing write: clustered by the bucket transform (one shuffle,
  * whole buckets per task), tasks write per-bucket parquet, the driver
  * commits metadata.
  */
private final class LakeReplaceDataWrite(
    op: LakeRowLevelOperation,
    table: LakeTable,
    snap: Snapshot,
    info: LogicalWriteInfo) extends Write with RequiresDistributionAndOrdering with BatchWrite {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(
      Expressions.bucket(snap.numBuckets, "conv_id", "turn_idx")))
  override def requiredOrdering(): Array[SortOrder] = Array.empty
  override def requiredNumPartitions(): Int = snap.numBuckets
  override def toBatch: BatchWrite = this
  override def description(): String = s"LakeReplaceData(v${snap.version})"

  private val outDir = table.attemptDir(snap.version + 1, "sql-rlo", 0L)

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(outDir)
    new LakeReplaceWriterFactory(
      WriteBridge.parquetWriterFactory(SparkSession.active, snap.schema),
      info.schema(), snap.schema, snap.numBuckets, outDir.toString)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val mine = messages.toSeq.flatMap(_.asInstanceOf[LakeReplaceMessage].files)
    val newFiles = WrittenFile.byBucket(mine).files
    // the groups this output REPLACES = what the target scan actually read
    // (a never-planned scan means Spark read nothing — replace nothing)
    val replaced: Set[Int] = op.scannedBuckets.getOrElse(Set.empty)
    val (baseFiles, deltaFiles) = newFiles.partition { case (b, _) => replaced(b) }

    // the replaced buckets' tombstones, old and new, as a delta (see class
    // doc): bucket i's task folds bucket i's old files against its new keys
    val tombs =
      if (replaced.isEmpty) Seq.empty
      else {
        val schema = snap.schema
        val (convI, turnI, tsI, seqI) = BucketLocal.keyIdx(schema)
        val opI = schema.fieldIndex("op")
        val old = table.resolveFiles(snap, Some(replaced))
        val spill = BucketLocal.spillPlan(spark, old)
        def scan(s: StructType, files: Map[Int, Seq[FileEntry]]) =
          ScanBridge.bucketFilesRdd(spark, s, BucketLocal.bucketArray(snap.numBuckets, files))
        val keys = StructType(Model.KeyCols.map(schema(_)))
        val carried = scan(schema, old).zipPartitions(scan(keys, baseFiles)) { (rows, kept) =>
          val keep = new java.util.HashSet[(UTF8String, Int)]()
          kept.foreach(k => keep.add((k.getUTF8String(0).clone(), k.getInt(1))))
          BucketLocal.foldBucket(schema, rows, spill(TaskContext.getPartitionId())).flatMap { w =>
            if (Model.isDelete(w, opI)) Some(w)
            else if (keep.contains((w.getUTF8String(convI), w.getInt(turnI)))) None
            else {
              val t = new GenericInternalRow(schema.length)
              t.update(convI, w.getUTF8String(convI))
              t.setInt(turnI, w.getInt(turnI))
              if (!w.isNullAt(tsI)) t.setLong(tsI, w.getLong(tsI))
              if (!w.isNullAt(seqI)) t.setLong(seqI, w.getLong(seqI) + 1)
              t.update(opI, Model.DeleteOp)
              Some(t)
            }
          }
        }
        BucketFileWriter.writeAll(carried, WriteBridge.parquetWriterFactory(spark, schema),
          outDir.resolve("tombstones").toString)
      }
    val tombFiles = WrittenFile.byBucket(tombs).files

    if (replaced.isEmpty && newFiles.isEmpty) return // no groups, no rows: no-op

    val touched = replaced ++ deltaFiles.keySet
    val change = TableChange(
      Ledger.Next(Option(info.options().get("writerId")).getOrElse("sql-rlo")),
      snap.schemaJson,
      refs = Seq((baseFiles, replaced, false), (tombFiles, tombFiles.keySet, true),
          (deltaFiles, deltaFiles.keySet, true)).filter(_._2.nonEmpty).map {
        case (files, buckets, delta) =>
          ManifestRef(table.writeManifest(snap.version + 1, files), buckets, delta)
      },
      replaced = replaced,
      // a replaced bucket's stored rows = its replacement rows + carried
      // tombstones; an unscanned bucket's rows are appended
      rows = WrittenFile.byBucket(mine ++ tombs).rows,
      metrics = Map(
        "batchRows" -> mine.map(_.rows).sum,
        "touchedBuckets" -> touched.size.toLong,
        "replacedBuckets" -> replaced.size.toLong,
        "rowLevelCommand" -> op.command().ordinal().toLong))
    CommitBuilder.commit(table, Some(snap), change,
        CommitBuilder.RebaseIfUnchanged(touched)) match {
      case CommitBuilder.Stale(_) =>
        // a concurrent commit changed the groups this statement rewrote:
        // the replacement content is stale and Spark cannot re-run the
        // rewrite plan from here — clean up and make the user retry
        abort(messages)
        throw new java.util.ConcurrentModificationException(
          s"lake table at ${table.root} changed concurrently in buckets " +
            s"${touched.toSeq.sorted.mkString("{", ",", "}")} during ${op.command()}; " +
            "re-run the statement against the new snapshot")
      case _ => () // a Next ledger entry is never already applied
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(outDir.toFile)
}

private final case class LakeReplaceMessage(
    files: Seq[WrittenFile]) extends WriterCommitMessage

/** Per-task writer: routes each replacement row to its bucket's parquet file
  * (same murmur3(seed 42) + pmod as every other engine path), appending the
  * internal `op = insert` column the SQL surface hides.
  */
private final class LakeReplaceWriterFactory(
    writers: WriteBridge.TaskWriterFactory,
    inputSchema: StructType,
    tableSchema: StructType,
    numBuckets: Int,
    outDir: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LakeBucketDataWriter(writers, inputSchema, tableSchema, numBuckets,
      outDir, partitionId, taskId)
}

/** Per-task bucket-routing parquet writer, shared by the row-level
  * (ReplaceData) write and the streaming sink: routes each row to its
  * bucket's parquet file (same murmur3(seed 42) + pmod as every other engine
  * path), appending the internal `op = insert` column the SQL surface hides.
  */
private[table] final class LakeBucketDataWriter(
    writers: WriteBridge.TaskWriterFactory,
    inputSchema: StructType,
    tableSchema: StructType,
    numBuckets: Int,
    outDir: String,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  // Row-layout protocol: with no metadata projection, Spark's
  // ReplaceDataExec.writingTask falls back to the plain
  // DataWritingSparkTask, which hands the writer the RAW rewrite-plan
  // output — `[__row_operation: int] ++ dataColumns` — rather than the
  // row projection the LogicalWriteInfo schema describes. The shift is
  // detected from the first row's arity (0 = already projected — also the
  // only shape streaming epochs produce — and 1 = the leading operation
  // column) and anything else fails loudly.
  private var shift = -1
  private var project: UnsafeProjection = _
  private var hash: Murmur3Hash = _
  private def bind(row: InternalRow): Unit = {
    shift = row.numFields - inputSchema.size
    require(shift == 0 || shift == 1,
      s"unexpected write row arity ${row.numFields} for schema " +
        s"${inputSchema.fieldNames.mkString(",")} — Spark write protocol changed?")
    def ref(name: String): BoundReference = {
      val i = inputSchema.fieldIndex(name)
      BoundReference(i + shift, inputSchema.fields(i).dataType, inputSchema.fields(i).nullable)
    }
    // input row (no op) → table-schema row with constant op = "insert"
    project = UnsafeProjection.create(
      tableSchema.fields.toIndexedSeq.map { f =>
        if (f.name == "op") Literal(UTF8String.fromString(Model.OpInsert), StringType)
        else ref(f.name)
      })
    hash = Murmur3Hash(Seq(ref("conv_id"), ref("turn_idx")), 42)
  }
  private val open = scala.collection.mutable.Map.empty[Int, BucketFileWriter]

  /** Metadata-projection path (the row-level op's normal one): `meta`
    * carries the copied row's `_bucket`; inserted rows have no source group
    * (null) and hash like every other write path.
    */
  override def write(meta: InternalRow, row: InternalRow): Unit = {
    if (shift < 0) bind(row)
    val b = if (meta.isNullAt(0)) bucketOf(row) else meta.getInt(0)
    writeTo(b, row)
  }

  override def write(row: InternalRow): Unit = {
    if (shift < 0) bind(row)
    writeTo(bucketOf(row), row)
  }

  private def bucketOf(row: InternalRow): Int = {
    val h = hash.eval(row).asInstanceOf[Int]
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  private def writeTo(b: Int, row: InternalRow): Unit =
    open.getOrElseUpdate(b, new BucketFileWriter(writers, outDir, b, partitionId, taskId))
      .write(project(row))

  override def commit(): WriterCommitMessage = {
    val files = open.toSeq.sortBy(_._1).map(_._2.commit())
    open.clear()
    LakeReplaceMessage(files)
  }

  override def abort(): Unit = {
    open.values.foreach(_.abort())
    open.clear()
  }

  override def close(): Unit = ()
}

package graft.streaming

import graft.operators.ChangeFeed
import graft.table.{FileEntry, LakeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector exposing a [[graft.table.LakeTable]]'s change
  * data feed as a STREAMING source (and the same feed as a batch scan):
  *
  * {{{
  *   spark.readStream.format("lake-cdf").option("path", tableRoot).load()
  * }}}
  *
  * This is the capability the reference pipeline lacks end-to-end: its sink
  * (GraphDB) cannot be tailed, so downstream consumers re-import full
  * releases (/root/reference docs/Architecture.md:71-85 — scheduled
  * re-conversion; delete-then-import per folder). Here the table's own
  * manifest-list metadata IS a changelog: every commit is a version, and the
  * diff between two versions is computable bucket-locally. Packaging that as
  * a `MicroBatchStream` turns any table into a source, so pipelines CHAIN —
  * table A's tail feeds table B exactly-once (offsets = versions, replay
  * dedup via the downstream table's batchId ledger), the Delta CDF streaming
  * / Iceberg incremental-read capability built from scratch.
  *
  * Semantics and scale:
  *   - OFFSETS ARE TABLE VERSIONS (one commit = one version = one unit of
  *     admission control): `maxVersionsPerTrigger` bounds a micro-batch, and
  *     version 0 is the empty bootstrap baseline (commits are numbered from
  *     1; the first commit's parentVersion is 0), so a fresh stream first
  *     emits the current snapshot as inserts (`startingVersion=earliest`,
  *     the default) or tails only new commits (`latest`, or an explicit
  *     version number).
  *   - each micro-batch plans ONE InputPartition PER CHANGED BUCKET — a
  *     bucket whose manifest file list is identical at both endpoint
  *     versions is skipped without opening a file, so a batch costs
  *     O(touched buckets), not O(table). Readers run [[ChangeFeed
  *     .diffPartitionAuto]] — the batch feed's in-task fold and its one
  *     diff, [[ChangeFeed.diffSortedWinners]] — over the same parquet
  *     reader the merge scan uses: ZERO exchanges at any table size.
  *   - `deleteTombstones=true` (the default here, unlike the batch feed's
  *     pre-image contract) emits deletes with the TOMBSTONE's (ts, seq) so a
  *     downstream LWW apply orders them after the replica's live row —
  *     the replication contract (see diffSortedWinners' scaladoc for the
  *     compact-expiry caveat).
  *   - the read schema is PINNED at stream start. Additive evolution
  *     mid-stream is safe (new files are read clipped to the pinned schema);
  *     restart the stream to surface new columns — Delta CDF's contract.
  *   - a REBUCKET between the endpoint versions changes the diff unit;
  *     planInputPartitions fails loudly and the stream must be restarted
  *     from a post-rebucket version (or re-bootstrapped).
  *
  * Emitted schema: table columns (minus internal `op`) + `change_type` ∈
  * insert | update | delete [| update_preimage when `updatePreImages=true`].
  *
  * COLUMN PRUNING is pushed into the parquet readers: a consumer projecting
  * two columns of a wide transcript table reads those two columns plus the
  * fold's own needs (key, version, op) — not the table. The stream also
  * reports per-trigger source metrics (`versionsBehind` — replica lag in
  * commits — and `lastBatchChangedBuckets`) into the streaming progress.
  */
final class LakeCdfSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "lake-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeCdf.outputSchema(LakeCdf.pinnedTableSchema(LakeCdf.root(options)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LakeCdfTable(LakeCdf.root(new CaseInsensitiveStringMap(properties)))

  // the schema is derived from the table's metadata, never user-supplied
  override def supportsExternalMetadata(): Boolean = false
}

private[streaming] object LakeCdf {
  val ChangeTypeField: StructField =
    StructField(ChangeFeed.ChangeTypeCol, StringType, nullable = false)

  def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "lake-cdf requires option 'path' = table root")
    p
  }

  /** The table schema the stream pins at start (superset-stable under
    * additive evolution; parquet clipping nulls late columns of old files).
    */
  def pinnedTableSchema(root: String): StructType =
    LakeTable.open(root).currentSnapshot().getOrElse(throw new IllegalArgumentException(
      s"lake-cdf: table at $root has no committed snapshot yet")).schema

  def outputSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields.filter(_.name != "op") :+ ChangeTypeField)

  /** Columns the in-task fold+diff itself needs, kept under any pruning. */
  val FoldCols: Set[String] = Set("conv_id", "turn_idx", "ts", "seq", "op")

  /** One InputPartition per bucket whose manifest file list differs between
    * the endpoint versions — metadata-only planning, O(touched), no file
    * opened on the driver. fromVersion ≤ 0 = empty baseline (bootstrap).
    * Oversized-bucket degradation, same contract and session threshold as
    * the batch feed ([[ChangeFeed.planDiff]]): a bucket whose larger side
    * exceeds it folds each side through the spilling sort.
    */
  def planPartitions(table: LakeTable, fromVersion: Long,
      toVersion: Long): Array[InputPartition] = {
    if (fromVersion >= toVersion) return Array.empty
    def snap(v: Long) = table.snapshotAt(v).getOrElse(throw new IllegalStateException(
      s"lake-cdf: snapshot v$v is gone (vacuumed?); re-bootstrap the stream"))
    val sTo = snap(toVersion)
    val filesFrom: Map[Int, Seq[FileEntry]] =
      if (fromVersion <= 0) Map.empty
      else {
        val sFrom = snap(fromVersion)
        require(sFrom.numBuckets == sTo.numBuckets,
          s"lake-cdf: bucket layout changed between v$fromVersion (${sFrom.numBuckets}) and " +
            s"v$toVersion (${sTo.numBuckets}); restart the stream from a post-rebucket version")
        table.resolveFiles(sFrom)
      }
    val filesTo = table.resolveFiles(sTo)
    def arr(m: Map[Int, Seq[FileEntry]], b: Int): Array[(String, Long)] =
      m.getOrElse(b, Seq.empty).map(f => (f.path, f.bytes)).toArray
    val (changed, spill) =
      ChangeFeed.planDiff(SparkSession.active, sTo.numBuckets, filesFrom, filesTo)
    changed.toArray.map(b =>
      CdfInputPartition(b, arr(filesFrom, b), arr(filesTo, b), spill(b)): InputPartition)
  }
}

private final class LakeCdfTable(root: String) extends Table with SupportsRead {
  // pin ONCE per table handle: scan schema, batch and stream all agree
  private val tableSchema = LakeCdf.pinnedTableSchema(root)

  override def name(): String = s"lake-cdf(`$root`)"
  override def schema(): StructType = LakeCdf.outputSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = LakeCdf.outputSchema(tableSchema)
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new LakeCdfScan(root, tableSchema, required, options)
    }
}

private final class LakeCdfScan(root: String, tableSchema: StructType,
    required: StructType, options: CaseInsensitiveStringMap) extends Scan {
  private val preImages = options.getBoolean("updatePreImages", false)
  private val deleteTombstones = options.getBoolean("deleteTombstones", true)

  override def readSchema(): StructType = required
  override def description(): String =
    s"LakeCdf(root=$root, columns=[${required.fieldNames.mkString(",")}])"

  private def readerFactory(): PartitionReaderFactory = {
    // pruned parquet read: requested table columns + the fold's own needs,
    // in table-schema order (diff semantics are column-set-independent —
    // change classification only reads key/version/op)
    val needed = LakeCdf.FoldCols ++ required.fieldNames
    val readSchema = StructType(tableSchema.fields.filter(f => needed.contains(f.name)))
    new CdfReaderFactory(
      ScanBridge.parquetReader(SparkSession.active, readSchema),
      readSchema, required, preImages, deleteTombstones)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeCdfStream(root, options, readerFactory(), tableSchema)

  /** The same feed as a one-shot batch scan:
    * `spark.read.format("lake-cdf").option("fromVersion", v).load()` —
    * fromVersion defaults to −1 (full current state as inserts), toVersion
    * to the current version. [[graft.operators.ChangeFeed.changesBetween]]
    * is the programmatic equivalent (pre-image delete contract there).
    */
  override def toBatch: Batch = new Batch {
    private val table = LakeTable.open(root)
    private val from = options.getLong("fromVersion", 0L)
    private val to = options.getLong("toVersion",
      table.currentSnapshot().map(_.version).getOrElse(0L))
    override def planInputPartitions(): Array[InputPartition] =
      LakeCdf.planPartitions(table, from, to)
    override def createReaderFactory(): PartitionReaderFactory = readerFactory()
  }
}

/** Streaming offset = table version: the version whose changes have all been
  * emitted (0 = nothing, the empty bootstrap baseline).
  */
private[streaming] final case class CdfOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private final class LakeCdfStream(root: String, options: CaseInsensitiveStringMap,
    factory: PartitionReaderFactory, pinnedSchema: StructType) extends MicroBatchStream
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val startingVersion = Option(options.get("startingVersion")).getOrElse("earliest")
  private val maxVersions = options.getLong("maxVersionsPerTrigger", Long.MaxValue)
  require(maxVersions > 0, "maxVersionsPerTrigger must be positive")
  private val table = LakeTable.open(root)
  // Trigger.AvailableNow fence: versions committed after prepare() are left
  // for the next run (the SupportsTriggerAvailableNow contract)
  @volatile private var availableNowCap: Long = Long.MaxValue

  private def currentVersion(): Long =
    table.currentSnapshot().map(_.version).getOrElse(0L)

  override def initialOffset(): Offset = startingVersion match {
    case "earliest" => CdfOffset(0L) // bootstrap: current state as inserts
    case "latest" => CdfOffset(currentVersion()) // only commits after start
    case v => CdfOffset(v.toLong) // changes strictly after version v
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = currentVersion()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("driver calls the admission-control variant")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CdfOffset].version
    // admission control in VERSIONS (the commit = the natural batch unit
    // here); Spark's row/file limits don't map onto metadata-diff planning.
    // Saturating add: the default maxVersions is Long.MaxValue and
    // from + maxVersions would wrap negative for any from >= 1
    val target = math.min(currentVersion(), availableNowCap)
    val capped = if (maxVersions >= target - from) target else from + maxVersions
    CdfOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): Offset = CdfOffset(currentVersion())

  @volatile private var lastChangedBuckets = 0

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endV = end.asInstanceOf[CdfOffset].version
    // ADDITIVE evolution mid-stream is fine (the pinned schema clips new
    // columns); a TYPE WIDENING is not — the window's new files carry the
    // wider physical type and parquet cannot DEMOTE them to the pinned
    // narrow read schema. Fail loudly, like the rebucket case.
    table.snapshotAt(endV).foreach { s =>
      val pinnedByName = pinnedSchema.fields.map(f => f.name -> f.dataType).toMap
      s.schema.fields.foreach { f =>
        pinnedByName.get(f.name).foreach(p => require(p == f.dataType,
          s"lake-cdf: column '${f.name}' retyped $p -> ${f.dataType} (type widening) " +
            s"at or before v$endV; restart the stream to adopt the new schema"))
      }
    }
    val parts = LakeCdf.planPartitions(table, start.asInstanceOf[CdfOffset].version, endV)
    lastChangedBuckets = parts.length
    parts
  }

  /** Progress-report metrics: `versionsBehind` is REPLICA LAG in commits
    * (the number a lag monitor alerts on), `lastBatchChangedBuckets` the
    * planned diff width of the last trigger.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (latestConsumedOffset.isPresent) // json() — the engine may hand back a SerializedOffset
      m.put("versionsBehind",
        math.max(0L, currentVersion() - latestConsumedOffset.get().json().toLong).toString)
    m.put("lastBatchChangedBuckets", lastChangedBuckets.toString)
    m
  }

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def deserializeOffset(json: String): Offset = CdfOffset(json.toLong)
  override def commit(end: Offset): Unit = () // snapshot retention is the table's policy
  override def stop(): Unit = ()
}

/** One changed bucket: both endpoint versions' file lists for that bucket,
  * and whether it diffs through the sort fold.
  */
private final case class CdfInputPartition(bucket: Int,
    fromFiles: Array[(String, Long)], toFiles: Array[(String, Long)], spill: Boolean)
  extends InputPartition

/** Serialized to executors: the merge scan's own parquet reader function
  * (schema clipping → additive-evolution nulls), the PRUNED read schema it
  * produces, and the requested output schema to project onto.
  */
private final class CdfReaderFactory(
    reader: PartitionedFile => Iterator[InternalRow],
    readSchema: StructType,
    outputSchema: StructType,
    preImages: Boolean,
    deleteTombstones: Boolean) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdfInputPartition]
    // diff rows are (pruned table row ++ change_type) on reused JoinedRow
    // buffers; project onto the requested output order as an UnsafeRow
    // (per-row buffer reuse is the standard source contract — downstream
    // buffering operators copy)
    val proj = UnsafeProjection.create(
      outputSchema.fields.toIndexedSeq.map { f =>
        if (f.name == ChangeFeed.ChangeTypeCol)
          BoundReference(readSchema.length, StringType, nullable = false)
        else {
          val i = readSchema.fieldIndex(f.name)
          BoundReference(i, readSchema.fields(i).dataType, readSchema.fields(i).nullable)
        }
      })
    val diffed = ChangeFeed.diffPartitionAuto(readSchema, preImages, deleteTombstones, p.spill)(
      ScanBridge.readFiles(reader, p.fromFiles), ScanBridge.readFiles(reader, p.toFiles))

    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        if (diffed.hasNext) { row = proj(diffed.next()); true } else false
      }
      override def get(): InternalRow = row
      override def close(): Unit = () // file readers close via task-completion listeners
    }
  }
}

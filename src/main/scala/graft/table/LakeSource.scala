package graft.table

import graft.model.Model
import graft.operators.{BucketLocal, MergeApplier}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RequiresDistributionAndOrdering, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

/** DataSource V2 BATCH read connector for a [[LakeTable]] — the SQL-surface
  * twin of the programmatic `LakeTable.read`:
  *
  * {{{
  *   spark.read.format("lake").option("path", root).load()          // head
  *   spark.read.format("lake").option("asOfVersion", 3).load()      // travel
  * }}}
  *
  * What the DSv2 boundary adds over the programmatic read:
  *
  *   - **Reported statistics** ([[SupportsReportStatistics]]): sizeInBytes =
  *     the PRUNED buckets' data-file bytes, rowCount = their manifest row
  *     counts — both O(metadata), no file opened. Catalyst's join planning
  *     sees a small lake table as small and picks a broadcast join on its
  *     own; without statistics a DSv2 relation defaults to "huge" and a
  *     dimension-table join shuffles 10^10 rows for no reason.
  *   - **Key-filter bucket pruning** ([[SupportsPushDownFilters]]): equality
  *     / IN predicates on BOTH of (conv_id, turn_idx) name the exact bucket
  *     set driver-side (the same murmur3 evaluation as
  *     `LakeTable.lookupTurn`). conv_id alone deliberately does NOT prune —
  *     the bucket hashes the full key, so a sound conv-only bucket set needs
  *     a turn bound, which is `lookupConversation`'s explicit contract, not
  *     an inferable property of a WHERE clause. Every filter is also
  *     returned as a residual, so Spark re-applies it row-level: pruning is
  *     purely physical.
  *   - **Column pruning through the MOR fold**
  *     ([[SupportsPushDownRequiredColumns]]): the in-task LWW fold needs only
  *     key/version/op plus the REQUESTED columns, so a two-column projection
  *     of a wide delta-carrying table reads ~5 columns — the programmatic
  *     MOR read declares pruning moot and reads whole rows.
  *
  * One InputPartition per (pruned) bucket; a delta-carrying snapshot folds
  * base + delta files in-task (the writer's associative rule), a compacted
  * one streams rows straight through — both emit live rows only, `op`
  * dropped. ZERO exchanges at any table size, like every other table pass.
  */
final class LakeSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "lake"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "lake requires option 'path' = table root")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeSource.outputSchema(LakeSource.snapshot(root(options), options).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LakeSourceTable(root(opts), opts)
  }

  override def supportsExternalMetadata(): Boolean = false
}

private object LakeSource {
  def snapshot(root: String, options: CaseInsensitiveStringMap): Snapshot = {
    val table = LakeTable.open(root)
    val v = Option(options.get("asOfVersion")).map(_.toLong)
    v match {
      case Some(ver) => table.snapshotAt(ver).getOrElse(
        throw new IllegalArgumentException(s"lake: no snapshot v$ver at $root"))
      case None => table.currentSnapshot().getOrElse(
        throw new IllegalArgumentException(s"lake: table at $root has no committed snapshot"))
    }
  }

  def outputSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields.filterNot(_.name == "op"))

  /** The `_bucket` METADATA COLUMN (hidden from `SELECT *`): the storage
    * bucket a row lives in — the engine's physical group identity, exposed
    * the way Iceberg exposes `_file`. It is what makes row-level operations
    * group-prunable: the operation requires it, so the runtime group filter
    * becomes a single-column `_bucket IN (…)` that actually survives filter
    * translation (a conv+turn struct-IN would be dropped), and the write
    * receives each copied row's group without rehashing.
    */
  val BucketCol = "_bucket"

  /** Driver-side bucket set from pushed key filters; None = no pruning.
    * Pruning requires BOTH key parts equality/IN-constrained — the bucket is
    * murmur3(conv_id, turn_idx), so a conv-only predicate cannot soundly
    * name a bucket set without a turn bound the predicate does not carry
    * (that use case is `LakeTable.lookupConversation`, whose bound IS part
    * of its contract). Several predicates on one column intersect; pruning
    * uses the tightest single set — residual evaluation keeps exactness.
    */
  def prunedBuckets(table: LakeTable,
      filters: Array[Filter]): Option[Set[Int]] = {
    def values(name: String): Option[Seq[Any]] = {
      val vs = filters.collect {
        case EqualTo(n, v) if n == name => Seq(v)
        case In(n, vs0) if n == name => vs0.toSeq
      }
      if (vs.isEmpty) None else Some(vs.minBy(_.size))
    }
    (for {
      convs <- values("conv_id").map(_.collect { case s: String => s })
      turns <- values("turn_idx").map(_.collect { case i: Int => i })
      // driver-side cost cap: a runtime filter carrying millions of keys
      // (a huge MERGE source) must not hash a conv×turn cross product on
      // the driver — fall back to "no pruning" (sound, just unpruned)
      if convs.size.toLong * turns.size <= 1000000L
    } yield (for (c <- convs; t <- turns) yield table.bucketFor(c, t)).toSet)
  }

  /** Event-time window [lo, hi] in Catalyst micros from pushed `ts` range
    * filters (intersection when several constrain it); None when no filter
    * bounds `ts`. Strict bounds tighten by one micro — `ts` values are whole
    * micros, so `>` v ≡ `>=` v+1. Values arrive as java.sql.Timestamp or
    * java.time.Instant depending on the session's java8API setting; both
    * convert exactly. Used by [[LakeSourceScan]] to skip files whose
    * [[FileStats]] ts bounds cannot overlap the window — file-granular on a
    * key-unique COW snapshot; whole-bucket on a delta-carrying one (a file
    * skip there could drop a newer version and resurrect an in-window loser,
    * the same LWW-soundness rule as the token-bloom search).
    */
  def tsWindowOf(filters: Array[Filter]): Option[(Long, Long)] = {
    def us(v: Any): Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
      case _ => None
    }
    import org.apache.spark.sql.sources.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    val windows = filters.toSeq.flatMap {
      case EqualTo("ts", v) => us(v).map(x => (x, x))
      case GreaterThan("ts", v) => us(v).map(x => (x + 1, Long.MaxValue))
      case GreaterThanOrEqual("ts", v) => us(v).map(x => (x, Long.MaxValue))
      case LessThan("ts", v) => us(v).map(x => (Long.MinValue, x - 1))
      case LessThanOrEqual("ts", v) => us(v).map(x => (Long.MinValue, x))
      case _ => None
    }
    windows.reduceOption((a, b) => (math.max(a._1, b._1), math.min(a._2, b._2)))
  }

  /** Driver-side body of the SQL append (see `newWriteBuilder`). Explicit
    * (writerId, batchId) options get ledger exactly-once: a replayed id is a
    * committed duplicate and no-ops. Without them the insert auto-assigns
    * maxBatchId("sql")+1 and MUST re-apply when `skipped` comes back: skipped
    * there means a CONCURRENT insert won the race to that id — a different
    * statement's data — not that ours committed. The retry recomputes the id
    * off the new snapshot; each round some racer commits, so the loop is
    * lock-free-progress bounded by the number of concurrent inserters.
    */
  def sqlAppend(root: String, data: DataFrame, options: CaseInsensitiveStringMap): Unit = {
    applyEvents(data.sparkSession, LakeTable.open(root), data.withColumn("op",
      lit(Model.OpInsert)), Option(options.get("mode")).fold("cow")(_.toLowerCase), options)
  }

  /** Driver-side body of SQL `DELETE FROM` ([[LakeSourceTable.deleteWhere]]).
    * A group/metadata delete cannot express CDC tombstones, so this is a
    * read-then-merge: scan the CURRENT winners matching the predicate
    * (through the lake source itself, so key filters bucket-prune the scan),
    * and merge a tombstone per match stamped `(row.ts, row.seq + 1)` — it
    * beats exactly the version it saw (ties keep the incumbent) and LOSES to
    * any strictly newer concurrent event, which is SQL DELETE's snapshot
    * semantics: a racing update to the same key survives the delete rather
    * than being silently killed. Tombstoned keys never match (the scan
    * already folds them out), so a replayed DELETE is naturally a no-op.
    */
  def sqlDelete(root: String, filters: Array[Filter]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val table = LakeTable.open(root)
    if (table.currentSnapshot().isEmpty) return // nothing committed: nothing to delete
    val cond = filters.map(filterToColumn).reduceOption(_ && _).getOrElse(lit(true))
    val current = spark.read.format("lake").option("path", root).load()
    val schema = outputSchema(table.currentSnapshot().get.schema)
    val tombstones = current.filter(cond).select(schema.fields.toIndexedSeq.map { f =>
      f.name match {
        case "conv_id" | "turn_idx" | "ts" => col(f.name)
        case "seq" => (col("seq") + 1L).as("seq")
        case other => lit(null).cast(f.dataType).as(other)
      }
    }: _*).withColumn("op", lit(Model.OpDelete))
    applyEvents(spark, table, tombstones, "cow", CaseInsensitiveStringMap.empty())
  }

  /** V1 pushed-filter → Column, for the predicate subset `canDeleteWhere`
    * accepts. Spark re-checks `canDeleteWhere` before calling `deleteWhere`,
    * so an untranslatable predicate surfaces as Spark's standard
    * "cannot delete where" analysis error, never a runtime surprise.
    */
  def filterToColumn(f: Filter): Column = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => !filterToColumn(c)
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case other => throw new UnsupportedOperationException(
        s"DELETE predicate not supported: $other")
    }
  }

  def canTranslate(f: Filter): Boolean =
    try { filterToColumn(f); true } catch { case _: UnsupportedOperationException => false }

  /** The shared commit loop for SQL-driven writes (`events` already carries
    * `op`): explicit (writerId, batchId) = ledger exactly-once; otherwise
    * auto-assign maxBatchId(writerId)+1 and re-apply on an id race.
    */
  private def applyEvents(spark: SparkSession, table: LakeTable, events: DataFrame,
      mode: String, options: CaseInsensitiveStringMap): Unit = {
    def apply1(writerId: String, batchId: Long): Boolean =
      MergeApplier.applyBatch(spark, table, events, writerId, batchId, mode).skipped
    (Option(options.get("writerId")), Option(options.get("batchId")).map(_.toLong)) match {
      case (Some(w), Some(b)) => apply1(w, b) // skipped = exactly-once replay no-op
      case (None, Some(_)) => throw new IllegalArgumentException(
        "batchId requires writerId (the ledger is per-writer)")
      case (w, None) =>
        val writerId = w.getOrElse("sql")
        var attempts = 0
        var raced = true
        while (raced) {
          attempts += 1
          require(attempts <= 16,
            s"append lost the batch-id race $attempts times (writerId=$writerId); " +
              "give concurrent inserters distinct writerId options")
          val bid = table.currentSnapshot().map(_.maxBatchId(writerId)).getOrElse(-1L) + 1
          raced = apply1(writerId, bid)
        }
    }
  }
}

private[table] final class LakeSourceTable(root: String,
    tableOptions: CaseInsensitiveStringMap,
    preResolved: Option[(LakeTable, Snapshot)] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = LakeSource.BucketCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "storage bucket (murmur3(conv_id, turn_idx) pmod numBuckets) — the row's physical group"
    })

  /** SQL `MERGE INTO` / `UPDATE` / complex `DELETE` via Spark's group-based
    * row-level rewrite, group = bucket (see [[LakeRowLevelOperation]]).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(tableOptions.get("asOfVersion") == null,
      s"cannot modify a time-travel handle of lake table at $root")
    new LakeRowLevelOperationBuilder(root, info)
  }
  // pin once per handle: schema, stats and partition planning all agree.
  // The catalog hands in its already-resolved (handle, snapshot), so a
  // catalog table load costs ONE snapshot resolution instead of three
  // (existence probe + pinned snap + handle) — sound only without a
  // time-travel option, whose resolution depends on the option value.
  require(preResolved.isEmpty || tableOptions.get("asOfVersion") == null,
    "preResolved snapshot cannot be combined with asOfVersion")
  private val (table, snap) = preResolved.getOrElse(
    (LakeTable.open(root), LakeSource.snapshot(root, tableOptions)))

  override def name(): String = s"lake(`$root`, v${snap.version})"
  override def schema(): StructType = LakeSource.outputSchema(snap.schema)
  override def capabilities(): java.util.Set[TableCapability] =
    // TRUNCATE is declared ONLY so `INSERT OVERWRITE` reaches our insert()
    // and gets the clear CDC-semantics rejection there, instead of Spark's
    // opaque capability error (the overwrite itself is always refused).
    // BATCH_WRITE is declared so a path write (`df.write.format("lake")
    // .option("path", …).mode("append").save()`) takes the V2 append instead
    // of the V1 create-table fallback; Spark still plans the V1Write below,
    // because V1_BATCH_WRITE is declared too
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** SQL append = CDC upsert apply. `INSERT INTO lake.t …` (and
    * `df.writeTo("lake.t").append()`, and a path append
    * `df.write.format("lake").option("path", root).mode("append").save()`)
    * routes each inserted row through the SAME engine path as the streaming
    * tail — [[MergeApplier.applyBatch]] with `op = insert` — so LWW
    * versioning, bucket-local merge, schema alignment, OCC commit and
    * lineage all hold for SQL-driven writes; an
    * INSERT whose (key, ts, seq) loses to a stored row is an upsert no-op,
    * exactly like the equivalent change event. Deletes and conditional
    * updates are MERGE INTO's job, not INSERT's.
    *
    * The V1 fallback ([[V1Write]]) is deliberate, not a shortcut: the
    * engine's apply IS a driver-orchestrated Spark job (merge fold + commit
    * with conflict retry), so the DataFrame handoff loses nothing — the
    * heavy work stays distributed, and INSERT gets the multi-writer retry
    * loop for free instead of re-implementing it inside a BatchWrite.
    *
    * Write options: `mode` = cow (default) | mor; `writerId`+`batchId` for
    * exactly-once replays (ledger contract); bare INSERTs auto-assign the
    * next batchId under writerId "sql" and retry on an id race.
    */
  /** SQL `DELETE FROM lake.t WHERE …` = CDC tombstones through the same
    * merge engine (see [[LakeSource.sqlDelete]]): match the current winners,
    * tombstone each at `(ts, seq + 1)` — snapshot-delete semantics where a
    * concurrent newer write to the same key survives.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    tableOptions.get("asOfVersion") == null && filters.forall(LakeSource.canTranslate)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(tableOptions.get("asOfVersion") == null,
      s"cannot delete from a time-travel handle of lake table at $root")
    LakeSource.sqlDelete(root, filters)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(tableOptions.get("asOfVersion") == null,
      s"cannot write to a time-travel handle of lake table at $root")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      // declared (with TRUNCATE capability) only to intercept INSERT
      // OVERWRITE at plan time with a semantic error instead of Spark's
      // opaque capability message
      override def truncate(): WriteBuilder = throw new UnsupportedOperationException(
        "INSERT OVERWRITE is unsupported: lake rows change via CDC upserts/deletes")
      override def build(): Write = {
        /** OPT-IN pre-shuffle for the streaming sink (`distribute=bucket`):
          * declare clustered-by-bucket distribution so Spark inserts ONE
          * exchange per epoch and each of the table's buckets is written by
          * exactly one task — an epoch then appends ≤ touched-buckets delta
          * files instead of up to tasks × buckets. At scale this is the
          * file-count/fold-cost knob for a wide unordered source (thousands
          * of source partitions would otherwise each open a writer per
          * bucket they happen to hit); the default stays the zero-shuffle
          * hot path (an unspecified distribution with no partition count,
          * which plans no exchange), which auto-compaction already bounds.
          * Resolving the bucket transform needs the function catalog, so
          * this option is for `toTable("cat.tbl")` sinks (a bare path sink
          * has no catalog to resolve `bucket` against — Spark fails that
          * loudly).
          */
        val distribute = "bucket".equalsIgnoreCase(
          String.valueOf(info.options().get("distribute")))
        new V1Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            if (distribute) Distributions.clustered(Array(
              Expressions.bucket(snap.numBuckets, "conv_id", "turn_idx")))
            else Distributions.unspecified()
          override def requiredOrdering(): Array[SortOrder] = Array.empty
          override def requiredNumPartitions(): Int = if (distribute) snap.numBuckets else 0
          override def toInsertableRelation: InsertableRelation = new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "INSERT OVERWRITE is unsupported: lake rows change via CDC upserts/deletes")
              LakeSource.sqlAppend(root, data, info.options())
            }
          }
          // df.writeStream.format("lake") — the exactly-once streaming sink
          // (delta-append micro-batches under the epoch ledger)
          override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new LakeStreamingWrite(root, info)
        }
      }
    }
  }

  /** The physical layout as a V2 transform. Through [[LakeCatalog]] (which
    * resolves `bucket` to [[LakeBucketFunction]]) this is what makes two
    * same-layout lake tables CO-PARTITIONED to Spark's join planner —
    * storage-partitioned joins with zero exchange on either side.
    */
  override def partitioning(): Array[Transform] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
      snap.numBuckets, "conv_id", "turn_idx"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(table, snap)
}

/** The scan builder behind both the plain read path and the row-level
  * operation's target scan; `onPlan` (row-level only) receives the FINAL
  * planned bucket set — static ∩ runtime pruning — so the replacing write
  * knows exactly which groups its output stands for.
  */
private[table] final class LakeScanBuilder(table: LakeTable, snap: Snapshot,
    onPlan: Set[Int] => Unit = _ => (), rowLevel: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = LakeSource.outputSchema(snap.schema)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the key-equality filters (bucket pruning) and event-time range
    // filters (per-file ts-bounds skipping) for physical pruning; EVERYTHING
    // is returned as residual — Spark re-applies row-level, so pruning can
    // only skip files, never change results
    pushed = filters.filter {
      case EqualTo("conv_id", _) | In("conv_id", _) => true
      case EqualTo("turn_idx", _) | In("turn_idx", _) => true
      case f => LakeSource.tsWindowOf(Array(f)).isDefined
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Metadata-only COUNT(*) (Iceberg's count pushdown, from scratch):
    * `SELECT COUNT(*) FROM tbl` at any table size answers from the snapshot
    * — live rows = committed bucketRows minus the retained-tombstone count
    * a FULL compaction records (`metrics("tombstoneRows")`). Sound only
    * when both terms are exact: the snapshot must be delta-free (bucketRows
    * of delta commits count superseded versions) and tombstone-counted
    * (absent = unknown = no pushdown — a post-compaction merge/MOR commit
    * drops the metric, turning pushdown off until the next full
    * compaction). Every filter stays residual in this source (a Filter node
    * above the scan blocks Spark's aggregate pushdown), so only the bare
    * whole-table count ever reaches here.
    */
  private def metadataCount: Option[Long] =
    if (snap.morDeltas) None
    else snap.metrics.get("tombstoneRows").map(snap.totalRows - _)

  /** Metadata MIN/MAX over the KEY columns, from the manifests' per-file
    * stats. Sound only when retained tombstones are KNOWN ZERO
    * (`metrics("tombstoneRows") == 0`, i.e. a full compaction whose
    * watermark expired every tombstone, with no commit since): a tombstoned
    * key's bytes are still in the file (and its stats), but it is not a
    * live row — with zero tombstones every stored row is a live winner, so
    * the fold over file bounds is exact. Superseded LWW versions need no
    * guard: they share their winner's key, so they can never move a key
    * extreme (which is also why this does not demand key-uniqueness).
    * Every file must carry stats (compaction output does); a stat-less
    * file disables the answer rather than risking it. Empty table → None
    * values (SQL NULL), matching the aggregate semantics.
    */
  private lazy val metadataBounds: Option[(Option[(UTF8String, UTF8String)], Option[(Int, Int)])] =
    if (snap.morDeltas || !snap.metrics.get("tombstoneRows").contains(0L)) None
    else {
      val files = table.resolveFiles(snap).values.flatten.toSeq
      if (files.exists(_.stats.isEmpty)) None
      else if (files.isEmpty) Some((None, None))
      else {
        val st = files.map(_.stats.get)
        val byBytes: Ordering[UTF8String] = (a, b) => a.binaryCompare(b)
        val lo = st.map(s => UTF8String.fromString(s.minConv)).min(byBytes)
        val hi = st.map(s => UTF8String.fromString(s.maxConv)).max(byBytes)
        Some((Some((lo, hi)), Some((st.map(_.minTurn).min, st.map(_.maxTurn).max))))
      }
    }

  /** Resolve one pushed aggregate expression to (output field, value), or
    * None when the metadata cannot answer it exactly.
    */
  private def resolveAgg(
      e: org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc)
      : Option[(org.apache.spark.sql.types.StructField, Any)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField}
    def colOf(c: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      c match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
          if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    e match {
      case _: CountStar => metadataCount.map(n =>
        (StructField("count", LongType, nullable = false), n: java.lang.Long))
      case m: Min => colOf(m.column).flatMap {
        case "conv_id" => metadataBounds.map { case (c, _) =>
          (StructField("min_conv_id", StringType), c.map(_._1).orNull) }
        case "turn_idx" => metadataBounds.map { case (_, t) =>
          (StructField("min_turn_idx", IntegerType),
            t.map(v => Int.box(v._1)).orNull) }
        case _ => None
      }
      case m: Max => colOf(m.column).flatMap {
        case "conv_id" => metadataBounds.map { case (c, _) =>
          (StructField("max_conv_id", StringType), c.map(_._2).orNull) }
        case "turn_idx" => metadataBounds.map { case (_, t) =>
          (StructField("max_turn_idx", IntegerType),
            t.map(v => Int.box(v._2)).orNull) }
        case _ => None
      }
      case _ => None
    }
  }

  private def resolveAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] =
    if (rowLevel || pushed.nonEmpty || agg.groupByExpressions.nonEmpty ||
      agg.aggregateExpressions.isEmpty) None
    else {
      val resolved = agg.aggregateExpressions.map(resolveAgg)
      if (resolved.exists(_.isEmpty)) None
      else Some((StructType(resolved.map(_.get._1).toIndexedSeq),
        resolved.map(_.get._2)))
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    resolveAggregation(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = resolveAggregation(agg)
    pushedAgg.isDefined
  }

  private var pushedAgg: Option[(StructType, Array[Any])] = None

  override def build(): Scan = pushedAgg match {
    case Some((schema, values)) => new LakeAggScan(schema, values, snap.version)
    case None =>
      val buckets = LakeSource.prunedBuckets(table, pushed)
        .filter(_.size < snap.numBuckets) // saturated = no pruning
      new LakeSourceScan(table, snap, required, buckets, onPlan, rowLevel,
        LakeSource.tsWindowOf(pushed))
  }
}

/** A fully-pushed aggregation's answer as a one-row, one-task scan — no
  * data file opens. Field order matches the pushed aggregate expressions
  * (Spark maps them positionally, the JDBC complete-pushdown contract).
  */
private final class LakeAggScan(schema: StructType, values: Array[Any],
    version: Long) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def description(): String =
    s"LakeAggScan(v$version, ${schema.fieldNames.zip(values).map { case (n, v) => s"$n=$v" }.mkString(", ")})"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(LakeAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = !emitted && { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              p.asInstanceOf[LakeAggPartition].values)
          override def close(): Unit = ()
        }
    }
}

private final case class LakeAggPartition(values: Array[Any]) extends InputPartition

private[table] final class LakeSourceScan(table: LakeTable, snap: Snapshot,
    required: StructType, buckets: Option[Set[Int]],
    onPlan: Set[Int] => Unit = _ => (), rowLevel: Boolean = false,
    tsWindow: Option[(Long, Long)] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** RUNTIME bucket pruning (the DSv2 face of dynamic partition pruning):
    * a join whose build side resolves to few keys hands this scan
    * `In(conv_id, …)` / `In(turn_idx, …)` filters at execution time;
    * [[LakeSource.prunedBuckets]] applies the same soundness rule as the
    * static path (BOTH key parts required — the murmur3 bucket hashes the
    * full key), and partition re-planning after `filter()` drops the
    * untouched buckets before any file opens. The cohort-fetch join
    * ("these 50 conversations ⋈ the 10^10-row table") reads O(cohort
    * buckets), not O(table).
    */
  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  /** Only advertise key columns that survived column pruning: Spark's
    * PartitionPruning rule resolves these against the scan OUTPUT, so naming
    * a pruned-away column fails analysis. Pruning needs both parts anyway
    * (soundness rule below), so a projection without them simply opts out.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val present = required.fieldNames.toSet
    // the row-level target scan filters on the GROUP identity (_bucket is in
    // its output by requiredMetadataAttributes): single-column, exact, and
    // translatable. Plain scans keep the key pair for cohort-join pruning.
    val cols = if (rowLevel) Array(LakeSource.BucketCol) else Array("conv_id", "turn_idx")
    cols.filter(present).map(org.apache.spark.sql.connector.expressions.Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    // the row-level group filter arrives as `_bucket IN (matched buckets)`
    // (single-column, so it survives V1 translation — a multi-attribute
    // struct-IN would be silently dropped before reaching the scan)
    val byBucket = filters.collectFirst {
      case In(LakeSource.BucketCol, vs) => vs.collect { case i: Int => i }.toSet
      case EqualTo(LakeSource.BucketCol, v: Int) => Set(v)
    }
    runtimeBuckets = byBucket.orElse(LakeSource.prunedBuckets(table, filters))
      .filter(_.size < snap.numBuckets)
  }

  override def readSchema(): StructType = required
  override def description(): String =
    s"LakeSource(v${snap.version}, columns=[${required.fieldNames.mkString(",")}]" +
      buckets.map(b => s", buckets=${b.toSeq.sorted.mkString("{", ",", "}")}").getOrElse("") + ")"
  override def toBatch: Batch = this

  // static (compile-time) pruning ∩ runtime pruning
  private def effectiveBuckets: Option[Set[Int]] = (buckets, runtimeBuckets) match {
    case (Some(a), Some(b)) => Some(a.intersect(b))
    case (a, b) => a.orElse(b)
  }

  private def plannedBuckets: Seq[Int] =
    effectiveBuckets.map(_.toSeq.sorted).getOrElse(0 until snap.numBuckets)

  /** One partition PER BUCKET (empty buckets included when unpruned): the
    * key set is then total and identical across same-layout tables, so the
    * storage-partitioned join never needs partial-cluster value pushing.
    * An empty partition costs one no-op task.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
        snap.numBuckets, "conv_id", "turn_idx")),
      plannedBuckets.size)

  // O(metadata) statistics off the manifest list — file bytes and committed
  // row counts of exactly the buckets this scan will read. rowCount includes
  // tombstones (they are rows read before the residual filter) — fine for an
  // ESTIMATE, and tombstone-heavy tables over-estimate, which is the safe
  // direction for broadcast decisions.
  override def estimateStatistics(): Statistics = {
    val files = table.resolveFiles(snap, effectiveBuckets)
    val bytes = files.values.flatten.map(_.bytes).sum
    val rows = effectiveBuckets match {
      case Some(bs) => snap.bucketRows.view.filterKeys(bs).values.sum
      case None => snap.totalRows
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    onPlan(plannedBuckets.toSet)
    val files = table.resolveFiles(snap, effectiveBuckets)
    // ts-bounds file skipping (tsWindow = pushed event-time range): file-
    // granular on a key-unique COW snapshot; bucket-granular under MOR
    // deltas (dropping one file of a fold could resurrect an in-window
    // superseded version). Partitions are KEPT (possibly file-less) so the
    // reported KeyGroupedPartitioning stays total — an emptied partition
    // costs one no-op task, never a changed join alignment.
    def tsPruned(fs: Seq[FileEntry]): Seq[FileEntry] = tsWindow match {
      case None => fs
      case _ if !table.fileSkipping => fs
      case Some((lo, hi)) =>
        def admits(f: FileEntry) = f.stats.forall(_.mightOverlapTs(lo, hi))
        if (snap.morDeltas) { if (fs.exists(admits)) fs else Seq.empty }
        else fs.filter(admits)
    }
    val planned = plannedBuckets.map(b => b -> tsPruned(files.getOrElse(b, Seq.empty)))
    // oversized-bucket degradation, same contract as the programmatic fold
    // paths: a delta-carrying bucket whose file bytes exceed the threshold
    // folds via spilling sort + O(1)-row streaming fold instead of the
    // whole-bucket hash map
    val spill =
      if (snap.morDeltas) BucketLocal.spillPlan(SparkSession.active, planned.toMap)
      else Set.empty[Int]
    planned.toArray.map { case (b, fs) =>
      LakeInputPartition(b, fs.map(f => (f.path, f.bytes)).toArray, spill(b)): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // pruned parquet read: requested columns + what tombstone filtering (op)
    // and — on a delta-carrying snapshot — the LWW fold (key/version) need
    val needed: Set[String] =
      if (snap.morDeltas) Set("conv_id", "turn_idx", "ts", "seq", "op") ++ required.fieldNames
      else Set("op") ++ required.fieldNames
    // _bucket is not a stored column: it is the partition's identity,
    // injected per-partition by the reader factory
    val readSchema = StructType(snap.schema.fields.filter(f => needed.contains(f.name)))
    new LakeReaderFactory(ScanBridge.parquetReader(SparkSession.active, readSchema),
      readSchema, required, snap.morDeltas)
  }
}

/** `spill`: fold this bucket through the sort ([[BucketLocal.foldBucket]]). */
private final case class LakeInputPartition(bucket: Int,
    files: Array[(String, Long)], spill: Boolean) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  // the value of this partition's bucket(...) transform — what Spark groups
  // and aligns on in a storage-partitioned join
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

private final class LakeReaderFactory(
    reader: PartitionedFile => Iterator[InternalRow],
    readSchema: StructType,
    outputSchema: StructType,
    fold: Boolean) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakeInputPartition]
    val opI = readSchema.fieldIndex("op")
    val rows = ScanBridge.readFiles(reader, p.files)
    // delta-carrying bucket: in-task LWW fold (the writer's associative
    // rule, spilling when planned so) so readers see exactly one version per
    // key; compacted bucket: stream through (buckets are key-unique in
    // steady state)
    val resolved = if (fold) BucketLocal.foldBucket(readSchema, rows, p.spill) else rows
    val live = resolved.filter(r => !Model.isDelete(r, opI))
    val proj = UnsafeProjection.create(
      outputSchema.fields.toIndexedSeq.map { f =>
        if (f.name == LakeSource.BucketCol)
          org.apache.spark.sql.catalyst.expressions.Literal(p.bucket,
            org.apache.spark.sql.types.IntegerType)
        else {
          val i = readSchema.fieldIndex(f.name)
          BoundReference(i, readSchema.fields(i).dataType, readSchema.fields(i).nullable)
        }
      })
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (live.hasNext) { row = proj(live.next()); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = () // file readers close via task-completion listeners
    }
  }
}

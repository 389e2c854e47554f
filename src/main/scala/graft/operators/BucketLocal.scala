package graft.operators

import graft.model.Model
import graft.table.{FileEntry, LakeTable, Snapshot}
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.{DriverScan, ScanBridge}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Bucket-local (zero-shuffle) table passes. The table's bucket layout means
  * every per-key operation — LWW fold, tombstone expiry, rewrite — is fully
  * decided inside one bucket, so reads and maintenance can run as one
  * narrow-dependency pass: bucket-aligned scan (partition i = bucket i's
  * files) → in-task fold → emit. No exchange at any table size; the unit of
  * parallelism is the bucket, which is exactly how the table scales.
  *
  * Every rewrite pass here hands its rows to the bucket's task writer
  * ([[graft.table.BucketFileWriter]]): compaction through [[compactRows]],
  * rebucket through [[keyOrdered]].
  *
  * [[wins]] is the engine's one LWW rule on every write path (replay, COW
  * merge, compaction) and delta-folding read: winner per (conv_id,
  * turn_idx) = max by (ts, seq); nulls lowest; ties keep the incumbent —
  * unreachable, seq is unique. The rule is associative, so any fold order
  * (batch before target, base before deltas) yields the same winners.
  */
object BucketLocal {

  private[operators] def ver(r: InternalRow, i: Int): Long =
    if (r.isNullAt(i)) Long.MinValue else r.getLong(i)

  private[operators] def wins(r: InternalRow, cur: InternalRow, tsI: Int, seqI: Int): Boolean = {
    val a = ver(r, tsI); val c = ver(cur, tsI)
    a > c || (a == c && ver(r, seqI) > ver(cur, seqI))
  }

  /** Fold an iterator to its per-key winner MAP. Rows are copied only when
    * stored (the scan reuses row buffers); losers are never copied. Exposed
    * (package-private) so the change feed can DIFF two folded states in-task.
    */
  private[operators] def foldWinnersMap(rows: Iterator[InternalRow],
      convI: Int, turnI: Int, tsI: Int, seqI: Int)
      : java.util.HashMap[(UTF8String, Int), InternalRow] = {
    val winners = new java.util.HashMap[(UTF8String, Int), InternalRow]()
    while (rows.hasNext) {
      val r = rows.next()
      val cur = winners.get((r.getUTF8String(convI), r.getInt(turnI)))
      if (cur == null || wins(r, cur, tsI, seqI)) {
        val c = r.copy()
        winners.put((c.getUTF8String(convI), c.getInt(turnI)), c)
      }
    }
    winners
  }

  private[graft] def foldWinners(rows: Iterator[InternalRow],
      convI: Int, turnI: Int, tsI: Int, seqI: Int): Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    foldWinnersMap(rows, convI, turnI, tsI, seqI).values().iterator().asScala
  }

  /** Streaming last-per-key fold over rows already SORTED by
    * (conv_id, turn_idx, ts ASC NULLS FIRST, seq ASC NULLS FIRST): within a
    * key group ascending (ts, seq) order makes the LAST row the LWW winner
    * (nulls-first == `ver()`'s nulls-lowest), so the fold holds ONE row at a
    * time — O(1) memory regardless of bucket size. This is the spill-safe
    * twin of [[foldWinnersMap]]: the upstream sort is Spark's SortExec,
    * which spills to disk, so a bucket that outgrew its executor degrades
    * to disk-backed sorting instead of OOMing the hash fold.
    *
    * Semantics caveat (shared with every LWW path): a full (ts, seq) tie is
    * resolved arbitrarily here (sort order among equal keys is unstable)
    * where the hash fold keeps the first-scanned — unreachable in practice
    * because seq is unique per changelog.
    */
  private[graft] def foldWinnersSorted(rows: Iterator[InternalRow],
      convI: Int, turnI: Int): Iterator[InternalRow] = new Iterator[InternalRow] {
    // `pending` is a COPY (sorted-scan rows reuse buffers): the winner-so-far
    // (= last row seen) of the current key group
    private var pending: InternalRow = null
    private var out: InternalRow = null
    private var done = false
    private def advance(): Unit = {
      while (out == null && !done) {
        if (!rows.hasNext) { done = true; out = pending; pending = null }
        else {
          val r = rows.next()
          if (pending != null &&
              pending.getUTF8String(convI).equals(r.getUTF8String(convI)) &&
              pending.getInt(turnI) == r.getInt(turnI)) {
            pending = r.copy() // same key, later in (ts, seq) order: r wins
          } else {
            out = pending // may be null on the very first row
            pending = r.copy()
          }
        }
      }
    }
    override def hasNext: Boolean = { advance(); out != null }
    override def next(): InternalRow = {
      advance(); val o = out; out = null
      if (o == null) throw new NoSuchElementException("empty fold")
      o
    }
  }

  /** Partition-local (conv_id, turn_idx, ts, seq) sort — the spill-safe
    * fold's upstream. sortWithinPartitions is a NARROW dependency: partition
    * count and the partition-i == bucket-i alignment are preserved, and
    * SortExec's UnsafeExternalSorter spills to disk under memory pressure.
    * ASC NULLS FIRST on ts/seq mirrors `ver()`'s null → Long.MinValue
    * ordering (nulls lowest).
    */
  private def sortedByKeyVersion(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.sortWithinPartitions(col("conv_id").asc, col("turn_idx").asc,
      col("ts").asc_nulls_first, col("seq").asc_nulls_first)
  }

  private[graft] def keyIdx(schema: StructType): (Int, Int, Int, Int) =
    (schema.fieldIndex("conv_id"), schema.fieldIndex("turn_idx"),
      schema.fieldIndex("ts"), schema.fieldIndex("seq"))

  private[graft] def bucketArray(table: LakeTable, snap: Snapshot,
      buckets: Option[Set[Int]] = None): Array[Array[(String, Long)]] = {
    // sized from the SNAPSHOT, not the handle: the snapshot's manifest is
    // the authority on the bucket layout (a stale handle after a rebucket
    // would otherwise under-allocate and overflow on the new bucket ids)
    val files = Array.fill(snap.numBuckets)(Array.empty[(String, Long)])
    table.resolveFiles(snap, buckets).foreach { case (b, fs) =>
      files(b) = fs.map(f => (f.path, f.bytes)).toArray
    }
    files
  }

  /** Read the table with the MOR delta fold done bucket-locally — ZERO
    * exchanges at any number of un-compacted deltas (the repartition+agg
    * formulation costs one). Used by LakeTable.read when the snapshot
    * carries deltas; column pruning is moot there because the fold's winner
    * semantics need whole rows anyway.
    */
  def readFolded(spark: SparkSession, table: LakeTable, snap: Snapshot,
      buckets: Option[Set[Int]] = None): DataFrame = {
    val schema = snap.schema
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    val folded = ScanBridge.bucketFilesRdd(spark, schema, bucketArray(table, snap, buckets))
      .mapPartitions(rows => foldWinners(rows, convI, turnI, tsI, seqI))
    ScanBridge.internalDf(spark, folded, schema)
  }

  /** Spill-safe twin of [[readFolded]]: bucket-aligned scan →
    * partition-local SORT (SortExec, spills to disk) → streaming
    * last-per-key fold (O(1) task memory). Still ZERO exchanges — the sort
    * is narrow, so partition i remains bucket i. Slower than the hash fold
    * on healthy buckets (copies every row once, pays the sort), which is
    * why [[graft.table.LakeTable.read]] picks it only when a bucket's
    * manifest byte size exceeds the handle's `spillFoldBytes` policy — the
    * graceful-degradation path for a bucket that outgrew its executor,
    * keeping the table readable (and compactable / rebucketable) so the
    * operator can restore the sizing invariant with `rebucket`.
    */
  def readFoldedSpill(spark: SparkSession, table: LakeTable, snap: Snapshot,
      buckets: Option[Set[Int]] = None): DataFrame = {
    val schema = snap.schema
    val (convI, turnI, _, _) = keyIdx(schema)
    val raw = ScanBridge.internalDf(spark,
      ScanBridge.bucketFilesRdd(spark, schema, bucketArray(table, snap, buckets)), schema)
    val folded = ScanBridge.toInternalRdd(sortedByKeyVersion(raw))
      .mapPartitions(rows => foldWinnersSorted(rows, convI, turnI))
    ScanBridge.internalDf(spark, folded, schema)
  }

  /** Policy switch for every delta-carrying read: the hash fold while each
    * requested bucket fits the executor-sized contract (fast path), the
    * sort-spill fold once any exceeds `table.spillFoldBytes`. The decision
    * reads only manifest metadata (file sizes travel in the manifest).
    */
  def readFoldedAuto(spark: SparkSession, table: LakeTable, snap: Snapshot,
      buckets: Option[Set[Int]] = None): DataFrame =
    if (table.maxBucketBytes(snap, buckets) > table.spillFoldBytes) {
      lastFoldWasSpill = true
      readFoldedSpill(spark, table, snap, buckets)
    } else {
      lastFoldWasSpill = false
      readFolded(spark, table, snap, buckets)
    }

  /** Test observability only: which branch the last [[readFoldedAuto]] call
    * took (the sort is inside the bridged inner plan, invisible to the outer
    * DataFrame's executedPlan).
    */
  @volatile private[graft] var lastFoldWasSpill: Boolean = false

  /** Bucket-local fold over an EXPLICIT per-bucket file subset — the read
    * behind the key-addressed lookups after file skipping (a pruned file's
    * key bounds exclude the looked-up key, so the fold of every key the
    * caller then filters FOR is unchanged). Same zero-exchange shape as
    * [[readFolded]]; `spill` selects the sort-spill fold for oversized
    * buckets.
    */
  def readFoldedFiles(spark: SparkSession, schema: StructType, numBuckets: Int,
      files: Map[Int, Seq[FileEntry]], spill: Boolean = false): DataFrame = {
    val arr = Array.fill(numBuckets)(Array.empty[(String, Long)])
    files.foreach { case (b, fs) => arr(b) = fs.map(f => (f.path, f.bytes)).toArray }
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    if (spill) {
      val raw = ScanBridge.internalDf(spark,
        ScanBridge.bucketFilesRdd(spark, schema, arr), schema)
      val folded = ScanBridge.toInternalRdd(sortedByKeyVersion(raw))
        .mapPartitions(rows => foldWinnersSorted(rows, convI, turnI))
      ScanBridge.internalDf(spark, folded, schema)
    } else {
      val folded = ScanBridge.bucketFilesRdd(spark, schema, arr)
        .mapPartitions(rows => foldWinners(rows, convI, turnI, tsI, seqI))
      ScanBridge.internalDf(spark, folded, schema)
    }
  }

  /** Driver-side twin of [[readFoldedFiles]] for the key-addressed lookups:
    * read `files` on the driver ([[DriverScan]]), keep the rows whose key
    * `key` admits, and with `fold` resolve them with the same
    * [[foldWinners]] kernel the tasks use. The fold is per key, so filtering
    * keys first leaves each admitted key's winner unchanged: the result is
    * readFoldedFiles restricted to the admitted keys, in memory
    * O(versions of those keys), not O(bucket). `filter` is the parquet form
    * of `key`, for row-group skipping.
    */
  private[graft] def foldFilesOnDriver(spark: SparkSession, schema: StructType,
      files: Map[Int, Seq[FileEntry]], fold: Boolean, filter: FilterPredicate,
      key: (UTF8String, Int) => Boolean): Seq[InternalRow] = {
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    val rows = DriverScan.read(spark, schema, files.values.flatten.map(_.path).toSeq, filter,
      r => !r.isNullAt(convI) && !r.isNullAt(turnI) &&
        key(r.getUTF8String(convI), r.getInt(turnI)))
    if (fold) foldWinners(rows.iterator, convI, turnI, tsI, seqI).toSeq else rows
  }

  private[operators] def keyComparator(convI: Int, turnI: Int): java.util.Comparator[InternalRow] =
    new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        val c = a.getUTF8String(convI).compareTo(b.getUTF8String(convI))
        if (c != 0) c else Integer.compare(a.getInt(turnI), b.getInt(turnI))
      }
    }

  /** Buffer a partition and CLUSTER it by (conv_id, turn_idx) — the in-task
    * layout of every key-unique rewrite (compaction's hash path, rebucket).
    * `copyRows = false` only when the rows are already safe copies (a hash
    * fold's map values); scanned and shuffled rows reuse their buffers.
    */
  private[operators] def keyOrdered(rows: Iterator[InternalRow], copyRows: Boolean,
      convI: Int, turnI: Int): Iterator[InternalRow] = {
    val arr = (if (copyRows) rows.map(_.copy()) else rows).toArray
    java.util.Arrays.sort(arr, keyComparator(convI, turnI))
    arr.iterator
  }

  /** One bucket-local compaction pass: partition i holds bucket i's rows
    * with deltas folded (when present), tombstones older than the watermark
    * dropped, CLUSTERED by (conv_id, turn_idx) — ready for that bucket's
    * task write ([[graft.table.BucketFileWriter.writeAll]]). ZERO shuffles
    * — compaction cost is exactly read + sort-in-task + write, the property
    * that keeps maintenance feasible at 10^10 rows.
    *
    * Clustering: the rewritten parquet gets tight per-row-group min/max
    * statistics on the key columns (a conversation's turns are contiguous),
    * so any analytical scan with a conv_id/turn_idx predicate — including
    * [[graft.table.LakeTable.lookupTurn]]'s pushed filter — skips row
    * groups instead of scanning the bucket, and runs of one conversation
    * compress better. Memory: the in-task sort materializes one bucket —
    * the SAME bound the delta fold and the COW merge already have (a bucket
    * is the rewrite unit, sized to the executor via numBuckets).
    */
  def compactRows(spark: SparkSession, table: LakeTable, snap: Snapshot,
      watermarkMicros: Long, spill: Boolean = false,
      buckets: Option[Set[Int]] = None): RDD[InternalRow] = {
    val schema = snap.schema
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    val opI = schema.fieldIndex("op")
    val fold = snap.morDeltas
    val deleteOp = UTF8String.fromString(Model.OpDelete)
    // a null-ts tombstone has UNKNOWN event time — it must never expire
    // (ver() maps null to Long.MinValue for ordering, which would
    // otherwise make it "older than" any watermark)
    def expired(r: InternalRow): Boolean =
      !r.isNullAt(opI) && r.getUTF8String(opI).equals(deleteOp) &&
        !r.isNullAt(tsI) && r.getLong(tsI) < watermarkMicros
    if (spill) {
      // Spill-safe compaction — THE maintenance pass that must survive an
      // oversized bucket (it is how the operator shrinks one): partition-
      // local SortExec (spills) already clusters by key, so the streaming
      // fold + expiry filter hold O(1) rows per task. Zero shuffles, same
      // key-clustered output contract as the hash path.
      val raw = ScanBridge.internalDf(spark,
        ScanBridge.bucketFilesRdd(spark, schema, bucketArray(table, snap, buckets)), schema)
      ScanBridge.toInternalRdd(sortedByKeyVersion(raw)).mapPartitions { rows =>
        // un-folded rows come off the sorter's buffers too — foldWinnersSorted
        // copies its survivors; the raw (COW, key-unique) branch streams the
        // sorted iterator straight into the write, which consumes each row
        // before pulling the next, so no copy is needed there
        val resolved =
          if (fold) foldWinnersSorted(rows, convI, turnI) else rows
        resolved.filter(r => !expired(r))
      }
    } else ScanBridge.bucketFilesRdd(spark, schema, bucketArray(table, snap, buckets))
      .mapPartitions { rows =>
        val resolved =
          if (fold) foldWinners(rows, convI, turnI, tsI, seqI) else rows
        // fold-path rows are already safe copies (map values); raw-scan rows
        // reuse the reader's buffer and must be copied to be held for the sort
        keyOrdered(resolved.filter(r => !expired(r)), copyRows = !fold, convI, turnI)
      }
  }
}

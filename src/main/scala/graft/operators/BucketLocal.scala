package graft.operators

import graft.model.Model
import graft.table.{FileEntry, LakeTable, Snapshot}
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.{DriverScan, ScanBridge, SortBridge}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Bucket-local (zero-shuffle) table passes. The table's bucket layout means
  * every per-key operation — LWW fold, tombstone expiry, rewrite — is fully
  * decided inside one bucket, so reads and maintenance can run as one
  * narrow-dependency pass: bucket-aligned scan (partition i = bucket i's
  * files) → in-task fold → emit. No exchange at any table size; the unit of
  * parallelism is the bucket, which is exactly how the table scales.
  *
  * [[foldBucket]] is the one task-side bucket fold behind every read
  * ([[readFolded]], the lake DSv2 reader), compaction ([[compactRows]]),
  * change feed and row-level tombstone carry: the in-memory hash fold, or —
  * for a bucket whose manifest bytes exceed the session's spill threshold
  * ([[SpillFoldBytesKey]]) — the spilling sort followed by a streaming fold.
  * [[spillPlan]] makes that decision per bucket on the driver, from
  * manifest metadata. [[orderedWinners]] is the same fold in
  * (conv_id, turn_idx) order: the COW merge, compaction and the change
  * feed's diff consume it.
  *
  * Every rewrite pass here hands its rows to the bucket's task writer
  * ([[graft.table.BucketFileWriter]]): compaction through [[compactRows]],
  * rebucket through [[orderedWinners]].
  *
  * [[wins]] applies the engine's one LWW order ([[Model.supersedes]]) to
  * table rows on every write path (replay, COW merge, compaction) and
  * delta-folding read: winner per (conv_id, turn_idx) = max by (ts, seq);
  * nulls lowest; ties keep the incumbent — unreachable, seq is unique. The
  * rule is associative, so any fold order (batch before target, base before
  * deltas) yields the same winners.
  */
object BucketLocal {

  private[operators] def ver(r: InternalRow, i: Int): Long =
    if (r.isNullAt(i)) Long.MinValue else r.getLong(i)

  private[graft] def wins(r: InternalRow, cur: InternalRow, tsI: Int, seqI: Int): Boolean =
    Model.supersedes(ver(r, tsI), ver(r, seqI), ver(cur, tsI), ver(cur, seqI))

  /** Fold an iterator to its per-key winner MAP. Rows are copied only when
    * stored (the scan reuses row buffers); losers are never copied.
    */
  private def foldWinnersMap(rows: Iterator[InternalRow],
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
    * twin of [[foldWinnersMap]]: [[foldBucket]] feeds it from
    * [[SortBridge]]'s spilling sort, so a bucket that outgrew its executor
    * degrades to disk-backed sorting instead of OOMing the hash fold.
    *
    * Tie order is unordered: the sort keeps no input order among rows with
    * equal (conv_id, turn_idx, ts, seq), so on a full (ts, seq) tie either
    * row may win, where the hash fold keeps the incumbent. Unreachable in
    * practice: seq is unique per changelog.
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

  /** THE task-side fold of one bucket's rows to its per-key winners
    * (tombstones kept). `spill` says the bucket's manifest bytes exceed the
    * spill threshold ([[spillPlan]]): below it the in-memory hash fold
    * ([[foldWinners]], memory = the bucket's winners, unordered output);
    * above it [[SortBridge]]'s spilling sort and the O(1)-row streaming
    * [[foldWinnersSorted]], whose output is in (conv_id, turn_idx) order.
    * Must run inside a Spark task: the sort draws on the task's memory
    * manager.
    */
  private[graft] def foldBucket(schema: StructType, rows: Iterator[InternalRow],
      spill: Boolean): Iterator[InternalRow] = {
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    if (spill) foldWinnersSorted(SortBridge.sortedAscNullsFirst(schema,
      Model.KeyCols ++ Model.VersionCols, rows), convI, turnI)
    else foldWinners(rows, convI, turnI, tsI, seqI)
  }

  /** [[foldBucket]]'s winners in (conv_id, turn_idx) order, the input of
    * every key-ordered consumer (the COW merge's write, compaction,
    * rebucket, the change feed's diff). The sort fold emits key order
    * already; the hash fold's winners are sorted in-task. The map values
    * are copies, so the sort copies nothing; memory is the bucket's
    * winners, as for the fold.
    */
  private[graft] def orderedWinners(schema: StructType, rows: Iterator[InternalRow],
      spill: Boolean): Iterator[InternalRow] =
    if (spill) foldBucket(schema, rows, spill)
    else {
      val (convI, turnI, tsI, seqI) = keyIdx(schema)
      val winners = foldWinnersMap(rows, convI, turnI, tsI, seqI).values()
        .toArray(new Array[InternalRow](0))
      java.util.Arrays.sort(winners, keyComparator(convI, turnI))
      winners.iterator
    }

  /** The session conf that holds the spill-fold threshold, in bytes
    * (default 2 GiB), the one setting of every fold path: in a
    * delta-carrying read, a compaction, a change feed (batch or `lake-cdf`)
    * or a row-level tombstone carry, each bucket whose manifest bytes exceed
    * it folds through the spilling sort ([[foldBucket]]) instead of the
    * in-memory hash fold. The hash fold's memory bound is one bucket's
    * post-merge contents — the COW sizing contract — so a bucket that
    * outgrew its executor (hot-key flood, delayed compaction, undersized
    * numBuckets) would OOM it; above the threshold the engine degrades to
    * disk-backed sorting instead, keeping the table readable, compactable
    * and REBUCKETABLE — the recovery path that restores the sizing
    * invariant. 2 GiB ≈ a conservative executor-task budget; tune per
    * deployment (file bytes are compressed parquet, so in-memory row size
    * is larger).
    */
  val SpillFoldBytesKey = "graft.lake.spillFoldBytes"

  /** The spill decision, made per bucket on the driver from manifest
    * metadata (no I/O): the buckets whose bytes exceed `spark`'s
    * [[SpillFoldBytesKey]] fold through the sort. Records the set in
    * [[lastSpilled]].
    */
  private[graft] def spillPlan(spark: SparkSession,
      bucketBytes: Iterable[(Int, Long)]): Set[Int] = {
    val threshold = spark.conf.getOption(SpillFoldBytesKey).fold(2L << 30)(_.toLong)
    val spill = bucketBytes.collect { case (b, n) if n > threshold => b }.toSet
    lastSpilled = spill
    spill
  }

  private[graft] def spillPlan(spark: SparkSession, files: Map[Int, Seq[FileEntry]]): Set[Int] =
    spillPlan(spark, files.map { case (b, fs) => b -> fs.iterator.map(_.bytes).sum })

  /** Test observability only: the buckets the last planned fold sent to the
    * sort (the sort runs inside the tasks, invisible to any plan).
    */
  @volatile private[graft] var lastSpilled: Set[Int] = Set.empty

  private[graft] def keyIdx(schema: StructType): (Int, Int, Int, Int) =
    (schema.fieldIndex("conv_id"), schema.fieldIndex("turn_idx"),
      schema.fieldIndex("ts"), schema.fieldIndex("seq"))

  /** The per-partition file lists of a bucket-aligned scan. Size it from the
    * SNAPSHOT, not the handle: the snapshot's manifest is the authority on
    * the bucket layout (a stale handle after a rebucket would otherwise
    * under-allocate and overflow on the new bucket ids).
    */
  private[graft] def bucketArray(numBuckets: Int,
      files: Map[Int, Seq[FileEntry]]): Array[Array[(String, Long)]] = {
    val arr = Array.fill(numBuckets)(Array.empty[(String, Long)])
    files.foreach { case (b, fs) => arr(b) = fs.map(f => (f.path, f.bytes)).toArray }
    arr
  }

  /** Read `files` (a per-bucket subset of `snap`'s files) with the MOR delta
    * fold done bucket-locally — ZERO exchanges at any number of
    * un-compacted deltas: partition i reads bucket i's files and folds them
    * through [[foldBucket]], spilling exactly the buckets whose bytes exceed
    * the spill threshold. Serves every delta-carrying read: the table
    * read, staged reads, the Spark path of the lookups (a pruned file's key
    * bounds exclude the looked-up key, so the fold of every key the caller
    * then filters FOR is unchanged), the view refresh and rebucket. Column
    * pruning is moot here: the fold's winner semantics need whole rows.
    */
  def readFolded(spark: SparkSession, snap: Snapshot,
      files: Map[Int, Seq[FileEntry]]): DataFrame = {
    val schema = snap.schema
    val spill = spillPlan(spark, files)
    val folded = ScanBridge.bucketFilesRdd(spark, schema, bucketArray(snap.numBuckets, files))
      .mapPartitionsWithIndex((b, rows) => foldBucket(schema, rows, spill(b)))
    ScanBridge.internalDf(spark, folded, schema)
  }

  /** Driver-side twin of [[readFolded]] for the key-addressed lookups:
    * read `files` on the driver ([[DriverScan]]), keep the rows whose key
    * `key` admits, and with `fold` resolve them with the same
    * [[foldWinners]] kernel the tasks use. The fold is per key, so filtering
    * keys first leaves each admitted key's winner unchanged: the result is
    * readFolded restricted to the admitted keys, in memory
    * O(versions of those keys), not O(bucket). `filter` is the parquet form
    * of `key`, for row-group skipping.
    */
  private[graft] def foldFilesOnDriver(spark: SparkSession, schema: StructType,
      files: Map[Int, Seq[FileEntry]], fold: Boolean, filter: FilterPredicate,
      key: (UTF8String, Int) => Boolean): Seq[InternalRow] = {
    val (convI, turnI, tsI, seqI) = keyIdx(schema)
    val rows = DriverScan.read(spark, schema, files.values.flatten.map(_.path).toSeq, Some(filter),
      r => !r.isNullAt(convI) && !r.isNullAt(turnI) &&
        key(r.getUTF8String(convI), r.getInt(turnI)))
    if (fold) foldWinners(rows.iterator, convI, turnI, tsI, seqI).toSeq else rows
  }

  private[operators] def keyComparator(convI: Int, turnI: Int): java.util.Comparator[InternalRow] =
    new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        val c = a.getUTF8String(convI).binaryCompare(b.getUTF8String(convI))
        if (c != 0) c else Integer.compare(a.getInt(turnI), b.getInt(turnI))
      }
    }

  /** One bucket-local compaction pass: partition i holds bucket i's rows
    * folded through [[orderedWinners]], tombstones older than the watermark
    * dropped, CLUSTERED by (conv_id, turn_idx) — ready for that bucket's
    * task write ([[graft.table.BucketFileWriter.writeAll]]). ZERO shuffles
    * — compaction cost is exactly read + fold + write, the property that
    * keeps maintenance feasible at 10^10 rows. A COW snapshot's buckets are
    * key-unique, so the fold hands their rows back unchanged.
    *
    * Clustering: the rewritten parquet gets tight per-row-group min/max
    * statistics on the key columns (a conversation's turns are contiguous),
    * so any analytical scan with a conv_id/turn_idx predicate — including
    * [[graft.table.LakeTable.lookupTurn]]'s pushed filter — skips row
    * groups instead of scanning the bucket, and runs of one conversation
    * compress better. The hash fold's winners are sorted in-task, the SAME
    * one-bucket memory bound the COW merge has. An oversized bucket takes
    * the sort fold at O(1) task rows: compaction is how the operator SHRINKS
    * such a bucket, so it is the one pass that must survive it.
    */
  def compactRows(spark: SparkSession, table: LakeTable, snap: Snapshot,
      watermarkMicros: Long, buckets: Option[Set[Int]] = None): RDD[InternalRow] = {
    val schema = snap.schema
    val tsI = schema.fieldIndex("ts")
    val opI = schema.fieldIndex("op")
    // a null-ts tombstone has UNKNOWN event time — it must never expire
    // (ver() maps null to Long.MinValue for ordering, which would
    // otherwise make it "older than" any watermark)
    def expired(r: InternalRow): Boolean =
      Model.isDelete(r, opI) && !r.isNullAt(tsI) && r.getLong(tsI) < watermarkMicros
    val files = table.resolveFiles(snap, buckets)
    val spill = spillPlan(spark, files)
    ScanBridge.bucketFilesRdd(spark, schema, bucketArray(snap.numBuckets, files))
      .mapPartitionsWithIndex((b, rows) =>
        orderedWinners(schema, rows, spill(b)).filter(!expired(_)))
  }
}

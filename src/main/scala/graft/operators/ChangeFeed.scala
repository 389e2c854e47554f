package graft.operators

import graft.model.Model
import graft.table.{FileEntry, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.graftbridge.ScanBridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Change Data Feed: the incremental READ side of the CDC engine — what
  * changed between two committed snapshots, as a changelog a downstream
  * consumer can apply (the Iceberg changelog-scan / Delta CDF capability,
  * built from scratch on the manifest-list metadata).
  *
  * The reference pipeline EMITS deltas per converted file (insert `.trig.gz`
  * + `_delete.txt.gz` per source, /root/reference
  * etl-pipeline-modules/.../ConvertToRDFLambda.java:308,321) but its sink
  * (GraphDB) cannot be asked "what changed since release X" — consumers
  * re-scan. Here the table's own metadata answers it:
  *
  *   - the manifest lists of the two snapshots name each bucket's file set;
  *     a bucket whose file list is IDENTICAL in both cannot have changed —
  *     it is skipped without opening a file. Cost is O(changed buckets),
  *     not O(table): at 10^10 rows a feed across a tail window reads only
  *     the buckets the tail touched, twice.
  *   - each changed bucket is diffed IN-TASK: fold both versions' bucket
  *     files to their per-key LWW winners in key order (the same
  *     associative rule the writer uses) and merge-diff them
  *     ([[diffSortedWinners]], the one diff this feed and the `lake-cdf`
  *     source share). zipPartitions over two bucket-aligned scans — ZERO
  *     exchanges at any table size, same as the merge itself. Rows come
  *     out in (conv_id, turn_idx) order within a bucket.
  *
  * Emitted schema: the table's columns (minus the internal `op`) plus
  * `change_type` ∈ insert | update | delete. insert/update carry the
  * POST-image (the new winner); delete carries the PRE-image (the row that
  * disappeared — its ts/seq are the deleted version's, matching the
  * reference's delete lists which name the removed record, not the delete
  * event). A key whose winner is identical in both snapshots emits nothing,
  * even inside a rewritten bucket.
  *
  * Caveats (documented contract):
  *   - additive schema evolution between the versions is fine — the old
  *     files are read with the NEW schema (parquet clipping → nulls for
  *     late columns), so pre-images carry null in columns that did not
  *     exist yet.
  *   - a COMPACTION between the versions rewrites every bucket's file list,
  *     so the bucket-skip optimization degrades to a full 2× scan (the diff
  *     itself stays correct — equal winners emit nothing). Consumers should
  *     tail between compactions; the row-level feed is exact either way.
  */
object ChangeFeed {

  val ChangeTypeCol = "change_type"

  /** Changes from `fromVersion` up to the CURRENT snapshot. */
  def changesSince(spark: SparkSession, table: LakeTable, fromVersion: Long,
      withUpdatePreImages: Boolean = false): DataFrame = {
    val cur = table.currentSnapshot().getOrElse(
      throw new IllegalArgumentException("empty table has no change feed")).version
    changesBetween(spark, table, fromVersion, cur, withUpdatePreImages)
  }

  /** `withUpdatePreImages`: additionally emit each update's PRE-image as a
    * `change_type = "update_preimage"` row (Delta CDF's contract) right
    * from the in-task diff, which already holds both winners — no extra
    * read. Pre+post pairs make every SUBTRACTABLE aggregate maintainable
    * incrementally from the feed alone (state' = state − f(pre) + f(post)),
    * the input contract of [[IncrementalAgg.maintain]].
    */
  def changesBetween(spark: SparkSession, table: LakeTable,
      fromVersion: Long, toVersion: Long,
      withUpdatePreImages: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    def snap(v: Long) = table.snapshotAt(v).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$v (vacuumed?)"))
    val sFrom = snap(fromVersion)
    val sTo = snap(toVersion)
    require(sFrom.numBuckets == sTo.numBuckets,
      s"bucket layout changed between v$fromVersion and v$toVersion")
    val n = sTo.numBuckets
    // read BOTH sides with the newer schema: additive evolution guarantees
    // it is a superset, and parquet schema clipping fills late columns of
    // old files with nulls — pre- and post-images line up column-for-column
    val schema = sTo.schema
    val filesFrom = table.resolveFiles(sFrom)
    val filesTo = table.resolveFiles(sTo)
    val (changed, spill) = planDiff(spark, n, filesFrom, filesTo)
    def changedFiles(fs: Map[Int, Seq[FileEntry]]) = fs.filter { case (b, _) => changed.contains(b) }
    val fromRdd = ScanBridge.bucketFilesRdd(spark, schema,
      BucketLocal.bucketArray(n, changedFiles(filesFrom)))
    val toRdd = ScanBridge.bucketFilesRdd(spark, schema,
      BucketLocal.bucketArray(n, changedFiles(filesTo)))
    val preImages = withUpdatePreImages
    val diffed = fromRdd.zipPartitions(toRdd, preservesPartitioning = false) {
      (f, t) =>
        val b = org.apache.spark.TaskContext.getPartitionId()
        diffPartitionAuto(schema, preImages, deleteTombstones = false, spill(b))(f, t)
    }
    val outSchema = StructType(schema.fields :+
      StructField(ChangeTypeCol, StringType, nullable = false))
    ScanBridge.internalDf(spark, diffed, outSchema).drop("op")
  }

  /** The buckets a diff between two endpoint file maps reads, and which of
    * them it sends to the sort. Identical file list ⇒ identical bucket
    * contents ⇒ skip without a read: a COW rewrite REPLACES the list, a MOR
    * append EXTENDS it, so any change to the bucket changes the list.
    * Oversized-bucket degradation, same policy (and threshold) as every
    * fold path ([[BucketLocal.spillPlan]]): a changed bucket whose larger
    * side exceeds the threshold folds each side through the spilling sort
    * (O(1) task rows) instead of the in-memory hash fold.
    */
  private[graft] def planDiff(spark: SparkSession, numBuckets: Int,
      from: Map[Int, Seq[FileEntry]], to: Map[Int, Seq[FileEntry]]): (Seq[Int], Set[Int]) = {
    def files(m: Map[Int, Seq[FileEntry]], b: Int) = m.getOrElse(b, Seq.empty)
    val changed = (0 until numBuckets).filter(b => files(from, b) != files(to, b))
    def bytes(m: Map[Int, Seq[FileEntry]], b: Int) = files(m, b).iterator.map(_.bytes).sum
    (changed, BucketLocal.spillPlan(spark,
      changed.map(b => b -> math.max(bytes(from, b), bytes(to, b)))))
  }

  /** The in-task diff of one changed bucket, shared by the batch feed and
    * the [[graft.streaming.LakeCdfSource]] micro-batch reader: each side's
    * rows fold to their winners in key order ([[BucketLocal.orderedWinners]],
    * hash fold sorted in-task, or the sort fold for a bucket `spill` marks),
    * then [[diffSortedWinners]] classifies them. A skipped bucket (no rows
    * on either side) opens no fold and no sorter.
    */
  private[graft] def diffPartitionAuto(schema: StructType, preImages: Boolean,
      deleteTombstones: Boolean, spill: Boolean)(
      from: Iterator[InternalRow], to: Iterator[InternalRow]): Iterator[InternalRow] =
    if (!from.hasNext && !to.hasNext) Iterator.empty
    else diffSortedWinners(schema, preImages, deleteTombstones)(
      BucketLocal.orderedWinners(schema, from, spill),
      BucketLocal.orderedWinners(schema, to, spill))

  /** THE change classification: a merge-diff of two winner streams SORTED
    * ascending by (conv_id, turn_idx), tombstones included. Per key:
    *   - live at `to` only (absent or a tombstone at `from`): insert, the
    *     post-image;
    *   - live at both with a different (ts, seq): update, the post-image,
    *     preceded by the pre-image as `update_preimage` with `preImages`;
    *   - live at `from` only: delete, the PRE-image (the row that
    *     disappeared);
    *   - otherwise (unchanged winner, tombstone→tombstone, a vanished or
    *     fresh tombstone): nothing visible.
    *
    * `deleteTombstones`: emit the TOMBSTONE row (the delete's own ts/seq)
    * instead of the pre-image for deletes — the REPLICATION contract: a
    * downstream LWW apply needs the deleting version to beat the replica's
    * live row, which the pre-image (that very row's version) cannot. The
    * tombstone exists whenever the key is present-but-dead at the `to`
    * snapshot (tombstones are retained across merges and
    * compactRetainTombstones); a key VANISHED by an explicit
    * tombstone-expiring compact(watermark) mid-window has no tombstone left
    * and falls back to the pre-image — replication across such a compaction
    * is not exactly-once (same contract as Delta CDF across VACUUM:
    * coordinate retention with consumers, or re-bootstrap).
    *
    * Holds ONE row per side (winner iterators hand out copies). Emitted rows
    * ride two mutable JoinedRows (pre/post of one update pair may be alive
    * together), the standard reused-buffer contract — downstream copies.
    */
  private[graft] def diffSortedWinners(schema: StructType, preImages: Boolean,
      deleteTombstones: Boolean)(
      fromW: Iterator[InternalRow], toW: Iterator[InternalRow]): Iterator[InternalRow] = {
    val (convI, turnI, tsI, seqI) = BucketLocal.keyIdx(schema)
    val opI = schema.fieldIndex("op")
    def live(r: InternalRow) = !Model.isDelete(r, opI)
    def sameVersion(a: InternalRow, b: InternalRow) =
      BucketLocal.ver(a, tsI) == BucketLocal.ver(b, tsI) &&
        BucketLocal.ver(a, seqI) == BucketLocal.ver(b, seqI)
    def tag(t: String) = new GenericInternalRow(Array[Any](UTF8String.fromString(t)))
    val tInsert = tag("insert")
    val tUpdate = tag("update")
    val tDelete = tag("delete")
    val tUpdatePre = tag("update_preimage")
    val f = fromW.buffered
    val t = toW.buffered
    val joined = new JoinedRow
    val joinedPre = new JoinedRow
    val keyOrder = BucketLocal.keyComparator(convI, turnI)
    new Iterator[InternalRow] {
      private var out: InternalRow = null
      private var pendingOut: InternalRow = null // the update half of a pre/post pair
      private def advance(): Unit = {
        if (out != null) return
        if (pendingOut != null) { out = pendingOut; pendingOut = null; return }
        while (out == null && (f.hasNext || t.hasNext)) {
          if (!t.hasNext || (f.hasNext && keyOrder.compare(f.head, t.head) < 0)) {
            // key only at `from`: a vanished live row is a delete (pre-image
            // fallback — no tombstone exists at `to` to emit); a vanished
            // tombstone is not a visible change
            val fr = f.next()
            if (live(fr)) out = joined(fr, tDelete)
          } else if (!f.hasNext || keyOrder.compare(f.head, t.head) > 0) {
            // key only at `to`: live ⇒ insert; a fresh tombstone with no
            // prior row is nothing visible
            val tr = t.next()
            if (live(tr)) out = joined(tr, tInsert)
          } else {
            val fr = f.next()
            val tr = t.next()
            val fromLive = live(fr)
            val toLive = live(tr)
            if (!fromLive && toLive) out = joined(tr, tInsert)
            else if (fromLive && !toLive)
              out = joined(if (deleteTombstones) tr else fr, tDelete)
            else if (fromLive && toLive && !sameVersion(fr, tr)) {
              if (preImages) {
                out = joinedPre(fr, tUpdatePre)
                pendingOut = joined(tr, tUpdate)
              } else out = joined(tr, tUpdate)
            } // else: unchanged winner or tombstone→tombstone
          }
        }
      }
      override def hasNext: Boolean = { advance(); out != null }
      override def next(): InternalRow = {
        advance()
        if (out == null) throw new NoSuchElementException("exhausted diff")
        val o = out; out = null; o
      }
    }
  }
}

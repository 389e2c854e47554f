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
  *     files to their per-key LWW winners (the same associative rule the
  *     writer uses) and compare. zipPartitions over two bucket-aligned
  *     scans — ZERO exchanges at any table size, same as the merge itself.
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
    val (changed, spill) = planDiff(n, filesFrom, filesTo, table.spillFoldBytes)
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
    * fold path: a changed bucket whose larger side exceeds `spillFoldBytes`
    * diffs via spilling sort + streaming fold + merge-diff (O(1) task rows)
    * instead of the two whole-bucket hash maps.
    */
  private[graft] def planDiff(numBuckets: Int, from: Map[Int, Seq[FileEntry]],
      to: Map[Int, Seq[FileEntry]], spillFoldBytes: Long): (Seq[Int], Set[Int]) = {
    def files(m: Map[Int, Seq[FileEntry]], b: Int) = m.getOrElse(b, Seq.empty)
    val changed = (0 until numBuckets).filter(b => files(from, b) != files(to, b))
    def bytes(m: Map[Int, Seq[FileEntry]], b: Int) = files(m, b).iterator.map(_.bytes).sum
    (changed, BucketLocal.spillPlan(
      changed.map(b => b -> math.max(bytes(from, b), bytes(to, b))), spillFoldBytes))
  }

  /** Per-bucket switch between [[diffPartition]] (two in-task hash maps —
    * fast while the bucket fits the executor-sized contract) and, for a
    * bucket `spill` marks ([[BucketLocal.spillPlan]] over the SAME
    * `spillFoldBytes` every fold path honors), the spill-safe sorted
    * merge-diff: each side through [[BucketLocal.foldBucket]]'s sort fold,
    * then [[diffSortedWinners]] holds one row per side. The feed — and the
    * incremental view refresh riding on it — keeps working on exactly the
    * oversized bucket the degradation contract exists for, instead of
    * OOMing at 2× the bucket-sized memory unit.
    */
  private[graft] def diffPartitionAuto(schema: StructType, preImages: Boolean,
      deleteTombstones: Boolean, spill: Boolean)(
      from: Iterator[InternalRow], to: Iterator[InternalRow]): Iterator[InternalRow] = {
    val (convI, turnI, tsI, seqI) = BucketLocal.keyIdx(schema)
    val opI = schema.fieldIndex("op")
    if (!from.hasNext && !to.hasNext) Iterator.empty // skipped bucket: no sorters
    else if (!spill)
      diffPartition(convI, turnI, tsI, seqI, opI, preImages, deleteTombstones)(from, to)
    else diffSortedWinners(convI, turnI, tsI, seqI, opI, preImages, deleteTombstones)(
      BucketLocal.foldBucket(schema, from, spill), BucketLocal.foldBucket(schema, to, spill))
  }

  /** In-task diff of one bucket's two folded states. Memory: the two winner
    * maps — bounded by the bucket's contents at each version, the same unit
    * the COW merge and the delta fold already hold (the rewrite unit, sized
    * to the executor via numBuckets).
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
    * Shared verbatim by the batch feed and the [[graft.streaming
    * .LakeCdfSource]] micro-batch reader (package-private for the latter).
    */
  private[graft] def diffPartition(convI: Int, turnI: Int, tsI: Int, seqI: Int, opI: Int,
      preImages: Boolean, deleteTombstones: Boolean = false)(
      from: Iterator[InternalRow], to: Iterator[InternalRow]): Iterator[InternalRow] = {
    if (!from.hasNext && !to.hasNext) return Iterator.empty // skipped bucket
    val sem = new DiffSemantics(opI, tsI, seqI)
    import sem.{isDelete, sameVersion, tDelete, tInsert, tUpdate, tUpdatePre}
    val fromMap = BucketLocal.foldWinnersMap(from, convI, turnI, tsI, seqI)
    val toMap = BucketLocal.foldWinnersMap(to, convI, turnI, tsI, seqI)
    val joined = new JoinedRow
    // a SECOND mutable JoinedRow for the pre-image half of an update pair:
    // emitting two rows from one flatMap element materializes both joins
    // before the consumer copies either, so they cannot share a buffer
    val joinedPre = new JoinedRow
    import scala.jdk.CollectionConverters._
    val changes = toMap.entrySet().iterator().asScala.flatMap { e =>
      val toRow = e.getValue
      val fromRow = fromMap.remove(e.getKey)
      val fromLive = fromRow != null && !isDelete(fromRow)
      val toLive = !isDelete(toRow)
      if (!fromLive && toLive) Seq(joined(toRow, tInsert): InternalRow)
      else if (fromLive && !toLive)
        // on this branch toRow IS the tombstone (present but dead at `to`)
        Seq(joined(if (deleteTombstones) toRow else fromRow, tDelete): InternalRow)
      else if (fromLive && toLive && !sameVersion(fromRow, toRow)) {
        if (preImages)
          Seq(joinedPre(fromRow, tUpdatePre): InternalRow, joined(toRow, tUpdate): InternalRow)
        else Seq(joined(toRow, tUpdate): InternalRow)
      }
      else Seq.empty // unchanged winner, or tombstone→tombstone (nothing visible)
    }
    // keys present at fromVersion with NO row at toVersion: unreachable via
    // merge alone (tombstones are retained), but a compaction between the
    // versions expires tombstones — a vanished TOMBSTONE is not a visible
    // change, while a vanished live row (defensive) is a delete. The
    // leftover iterator MUST be created only after `changes` is exhausted:
    // `changes` removes matched keys from fromMap as it is consumed, and a
    // HashMap iterator opened before those removals would fail fast.
    changes ++ Iterator.single(()).flatMap { _ =>
      fromMap.values().iterator().asScala
        .filter(r => !isDelete(r))
        .map(r => joined(r, tDelete): InternalRow)
    }
  }

  /** The change-classification vocabulary the hash diff and the sorted
    * merge-diff share: tombstone detection, version equality, and the
    * constant change-type tag rows.
    */
  private final class DiffSemantics(opI: Int, tsI: Int, seqI: Int)
      extends Serializable {
    private val deleteOp = UTF8String.fromString(Model.OpDelete)
    def isDelete(r: InternalRow): Boolean =
      !r.isNullAt(opI) && r.getUTF8String(opI).equals(deleteOp)
    def sameVersion(a: InternalRow, b: InternalRow): Boolean =
      BucketLocal.ver(a, tsI) == BucketLocal.ver(b, tsI) &&
        BucketLocal.ver(a, seqI) == BucketLocal.ver(b, seqI)
    private def tag(t: String) =
      new GenericInternalRow(Array[Any](UTF8String.fromString(t)))
    val tInsert: GenericInternalRow = tag("insert")
    val tUpdate: GenericInternalRow = tag("update")
    val tDelete: GenericInternalRow = tag("delete")
    val tUpdatePre: GenericInternalRow = tag("update_preimage")
  }

  /** Merge-diff of two winner streams already SORTED ascending by
    * (conv_id, turn_idx) — the spill-safe twin of [[diffPartition]]'s map
    * diff, emitting the SAME change rows (row order differs: key order here,
    * hash order there). Holds ONE row per side (winner iterators hand out
    * copies), so task memory is O(1) regardless of bucket size; the memory
    * work moved into the upstream spilling sorts. Emitted rows ride two
    * mutable JoinedRows (pre/post of one update pair may be alive together),
    * the standard reused-buffer contract — downstream copies.
    */
  private[graft] def diffSortedWinners(convI: Int, turnI: Int, tsI: Int,
      seqI: Int, opI: Int, preImages: Boolean, deleteTombstones: Boolean)(
      fromW: Iterator[InternalRow], toW: Iterator[InternalRow]): Iterator[InternalRow] = {
    val sem = new DiffSemantics(opI, tsI, seqI)
    import sem.{isDelete, sameVersion, tDelete, tInsert, tUpdate, tUpdatePre}
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
            if (!isDelete(fr)) out = joined(fr, tDelete)
          } else if (!f.hasNext || keyOrder.compare(f.head, t.head) > 0) {
            // key only at `to`: live ⇒ insert; a fresh tombstone with no
            // prior row is nothing visible
            val tr = t.next()
            if (!isDelete(tr)) out = joined(tr, tInsert)
          } else {
            val fr = f.next()
            val tr = t.next()
            val fromLive = !isDelete(fr)
            val toLive = !isDelete(tr)
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

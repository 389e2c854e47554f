package graft.operators

import graft.model.Model
import graft.table.{BucketFileWriter, CommitBuilder, CommitConflictException, LakeTable, Ledger, ManifestRef, Snapshot, StagedRef, TableChange, WrittenFile}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{DriverScan, ScanBridge, WriteBridge}
import org.apache.spark.sql.types.StructType

/** The engine core: apply one micro-batch of change events to a LakeTable as
  * an exactly-once, key-partitioned MERGE.
  *
  * This fuses the reference's two separate mechanisms —
  *   - the Redis max-version LWW dance (/root/reference SpecialCases.java:212-253)
  *   - the EC2 delete-then-import apply loop
  *     (incremental-updates-ingestion.py:29-63)
  * — into one apply attempt ([[attempt]]) per batch, whatever its write mode:
  *
  * {{{
  *   batch ─ batch side: bucket i's rows ──┐
  *                                         ├─ mergeBucket: COW fold or MOR raw rows,
  *   target ─ bucket i's files (COW) ──────┘   bucket i's file ─ atomic commit(batchId)
  * }}}
  *
  * The mode ([[isMor]]) picks only the per-bucket kernel (COW: LWW fold of
  * batch and target; MOR: the batch rows raw), whether target files are
  * read (MOR reads none) and the commit (COW replaces its buckets, MOR
  * appends a delta ref). The table side never shuffles, and untouched
  * buckets open no file. Where the kernel runs follows from the batch
  * ([[batchSide]]) and the touched buckets' target bytes, against one
  * bound ([[DriverScan.withinBound]]):
  *   - driver: a batch within the bound (a tail trigger, a small replay) is
  *     decoded and split on driver threads; with the touched bytes within
  *     it too (always for MOR and an empty table's replay, which read no
  *     target) each touched bucket is read ([[DriverScan]]), folded and
  *     written on a driver thread — no job
  *   - sliced: that split batch against larger touched buckets ships slice
  *     i to partition i of one stage, zipped with the bucket-aligned scan
  *   - exchanged: any other batch (past the bound, not narrow, -1
  *     threshold) takes one `repartition(N, key)` exchange, then the kernel
  * Cold start (full replay) is the same COW apply against an empty target.
  *
  * Correctness properties (tested in MergeSpec/MorSpec/StreamSpec):
  *   - idempotent: a replayed batchId is a no-op (ledger check before work)
  *   - cross-batch LWW: a later batch carrying an OLDER (ts, seq) for a key
  *     loses against the table row — including tombstones, so a stale insert
  *     cannot resurrect a deleted turn (the reference sidesteps this only by
  *     whole-folder ordering; we handle true out-of-order)
  *   - additive schema evolution: new columns widen the table schema; old
  *     files read back with nulls
  *
  * Scale notes (10^10 rows, 1000 executors):
  *   - there is NO map-side combine: the batch side hands every raw batch
  *     event to its bucket's kernel (shuffled or split on the driver), and
  *     within-batch duplicates collapse in the COW fold
  *   - only the batch shuffles, and only past the bound (a large replay);
  *     write amplification is bounded by (touched / total buckets)
  *   - tombstones are retained for LWW and dropped by [[compact]] once below
  *     an event-time watermark
  */
object MergeApplier {

  final case class ApplyResult(
      skipped: Boolean,
      version: Long,
      batchRows: Long,
      touchedBuckets: Int,
      upserts: Long,
      deletes: Long)

  /** The table write mode of an apply, `"cow"` or `"mor"` (true), with the
    * one unknown-mode error.
    *
    * Copy-on-write rewrites each touched bucket as the LWW fold of its batch
    * rows and stored rows: the read-optimized steady state.
    *
    * Merge-on-read appends the batch's events as DELTA files to each touched
    * bucket — NO target read, NO rewrite, NO aggregation (the LSM "L0
    * append"); the read path (LakeTable.read) and the next [[compact]] run
    * the associative LWW fold, so COW and MOR commits interleave freely.
    * Cost per batch is scan + batch side + write — strictly O(batch), the
    * high-throughput tail mode at 10^10 scale; compaction amortizes the
    * read-side merge (exactly Iceberg's v2 merge-on-read contract, built
    * from scratch). Within-batch LWW is deliberately NOT run: it collapses
    * only the batch's own duplicate keys (~10% at the measured skew) but
    * costs a sort-aggregate over the whole batch — the read/compact fold
    * subsumes it for the same final state. Each delta file still carries
    * the writer's key bounds + conv bloom, the skip input that keeps point
    * lookups O(files holding the key) on a delta-deep tail.
    */
  def isMor(mode: String): Boolean = mode match {
    case "cow" => false
    case "mor" => true
    case other => throw new IllegalArgumentException(s"unknown write mode '$other' (cow|mor)")
  }

  /** What one bucket's kernel hands the commit: the bucket's new file,
    * plus the raw batch rows and deletes it took (the hot path's metrics).
    */
  private final case class BucketMerge(file: WrittenFile, batchRows: Long, batchDeletes: Long)

  /** One bucket's apply, in a task or on a driver thread, written as
    * `bucket`'s one new file, named for write attempt `taskId`. COW folds
    * the bucket's batch rows and its stored rows through
    * [[BucketLocal.orderedWinners]]'s hash fold (the engine's one LWW
    * kernel: winner = max by (ts, seq), nulls lowest, ties keep the
    * incumbent) and writes the winners — tombstones included — in
    * (conv_id, turn_idx) order; MOR writes the batch rows as they come.
    *
    * Memory (COW): the map holds one row per distinct key of (batch ∪
    * bucket) — exactly the bucket's post-merge contents, which the COW
    * contract sizes to fit an executor anyway (a bucket IS the rewrite unit).
    */
  private def mergeBucket(writers: WriteBridge.TaskWriterFactory, dir: String, bucket: Int,
      taskId: Long, mor: Boolean)(batch: Iterator[InternalRow], target: Iterator[InternalRow])
      : Option[BucketMerge] = {
    if (!batch.hasNext) return None // untouched bucket: no file opened
    val schema = writers.schema
    val opI = schema.fieldIndex("op")
    var nRows = 0L
    var nDel = 0L
    val counted = batch.map { r =>
      nRows += 1
      if (Model.isDelete(r, opI)) nDel += 1
      r
    }
    val rows = if (mor) counted
      else BucketLocal.orderedWinners(schema, counted ++ target, spill = false)
    Some(BucketMerge(BucketFileWriter.write(writers, dir, bucket, taskId, rows), nRows, nDel))
  }

  /** The batch side of an apply, bucket i's batch rows at index i: split
    * on the driver with no job when [[ScanBridge.splitOnDriver]] admits the
    * batch (Left: slice i), else the `repartition(N, key)` exchange (Right:
    * partition i). Both evaluate `HashPartitioning(key, N)`'s partition id —
    * the murmur3 (seed 42) pmod the table's bucketCol is — so the alignment
    * invariant holds on either side (MergeSpec pins both).
    */
  private[graft] def batchSide(aligned: DataFrame, numBuckets: Int)
      : Either[Array[Array[InternalRow]], RDD[InternalRow]] =
    ScanBridge.splitOnDriver(aligned, Model.KeyCols, numBuckets).toLeft(
      ScanBridge.toInternalRdd(aligned.repartition(numBuckets, Model.KeyCols.map(col): _*)))

  private def deleteDir(p: java.nio.file.Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Normalize an incoming changelog batch to the base snapshot's schema
    * merged with its own (additive evolution; the commit merges the head's).
    */
  private def evolve(snap: Option[Snapshot], batch: DataFrame): (DataFrame, StructType) = {
    val merged = snap.fold(batch.schema)(s => Model.mergeSchemas(s.schema, batch.schema))
    (Model.alignToSchema(batch, merged), merged)
  }

  /** Apply `batch` as `writerId`'s batch `batchId` in write `mode`
    * ([[isMor]]) with OPTIMISTIC CONCURRENCY (Iceberg's multi-writer
    * contract, from scratch): the attempt folds against a base snapshot; the
    * commit is a CAS on the snapshot version. A MOR delta always rebases. A
    * COW attempt's lost CAS is resolved by [[CommitBuilder.RebaseIfUnchanged]]
    * — rebase the metadata when the winner left our touched buckets alone
    * (disjoint writers, the common sharded-ingest case: pure O(1)
    * driver-side retry, no recompute), re-run the whole attempt when it
    * rewrote or delta-appended any of them (our fold is stale — correctness
    * over speed). LWW is order-independent, so any interleaving of committed
    * batches converges to the same state.
    */
  def applyBatch(spark: SparkSession, table: LakeTable, batch: DataFrame,
      writerId: String, batchId: Long, mode: String = "cow"): ApplyResult = {
    val mor = isMor(mode)
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      // Optimistic first; after 4 lost races this writer is starved — its
      // re-run (a full Spark job) outlasts rivals' commit cadence, so pure
      // optimism livelocks. Escalate to the table's advisory commit lock:
      // rivals park at the commit gate while we fold, so the locked attempt
      // can lose at most once more (to a rival already past the gate when
      // we acquired), never twice. See LakeTable.withCommitLock.
      val landed =
        if (attempts <= 4) attempt(spark, table, batch, writerId, batchId, mor, attempts)
        else table.withCommitLock(attempt(spark, table, batch, writerId, batchId, mor, attempts))
      landed match {
        case Some(r) => return r
        case None => () // stale fold: merge re-runs against the new snapshot
      }
    }
    throw new IllegalStateException(
      s"apply $writerId/$batchId lost the commit race $attempts times " +
      "even under the exclusive commit lock — this indicates a lock breach " +
      "(stale-expiry misconfiguration), not ordinary contention")
  }

  /** Stage a COW merge WITHOUT publishing it — the WRITE of
    * write-audit-publish (Iceberg's WAP, from scratch). The full distributed
    * merge runs against the current snapshot; its output is recorded as a
    * staged ref (`meta/wap-<writerId>-<batchId>.json`) that pins the files
    * from vacuum but is invisible to every reader. Audit with
    * [[graft.table.LakeTable.readStaged]], then
    * [[graft.table.LakeTable.publishStaged]] (O(metadata) CAS) or
    * [[graft.table.LakeTable.dropStaged]]. Returns the staged ref name, or
    * None when the ledger already carries the batch (exactly-once holds
    * through staging too) or the batch was empty.
    */
  def stageBatch(spark: SparkSession, table: LakeTable, batch: DataFrame,
      writerId: String, batchId: Long): Option[String] = {
    val name = s"$writerId-$batchId"
    attempt(spark, table, batch, writerId, batchId, mor = false, stageName = Some(name))
      .filter(r => !r.skipped && r.touchedBuckets > 0).map(_ => name)
  }

  /** One apply attempt; None when its commit went stale (the merge re-runs). */
  private def attempt(spark: SparkSession, table: LakeTable, batch: DataFrame,
      writerId: String, batchId: Long, mor: Boolean, attemptNo: Int = 1,
      stageName: Option[String] = None): Option[ApplyResult] = {
    val t0 = System.nanoTime()
    val snap = table.currentSnapshot()
    val base = snap.map(_.version).getOrElse(0L)
    // Exactly-once: this batch already landed in a published snapshot
    // (the streaming checkpoint replayed it after a crash). No-op.
    if (snap.exists(_.applied(writerId, batchId)))
      return Some(ApplyResult(skipped = true, base, 0, 0, 0, 0))

    snap.foreach(table.checkBuckets)
    val (aligned, mergedSchema) = evolve(snap, batch)
    val outDir = table.attemptDir(base + 1, writerId, batchId)

    // BUCKET-LOCAL APPLY — ZERO table-side shuffle, no probe job:
    //
    //   driver:    slice i ── DriverScan(bucket i, none on replay/MOR) ─ mergeBucket
    //   sliced:    parallelize(slices, N) ─┐
    //   exchanged: repartition(N, key) ────┼ zipPartitions ─ mergeBucket
    //   target ─ bucket-aligned scan ──────┘ (partition i == bucket i; only
    //                                         when some bucket has files)
    //
    // A bucket with no batch rows opens no file and writes none. MOR deltas
    // fold correctly because the LWW rule is associative; tombstones are
    // RETAINED, so a later stale insert still loses. Each bucket returns
    // its file's manifest entry and counts (collect() carries successful
    // task attempts only): no listing, no footer reads. An idle trigger
    // (or an empty first batch) commits no orphan version.
    val files = snap.filterNot(_ => mor)
      .map(s => BucketLocal.bucketArray(s.numBuckets, table.resolveFiles(s)))
      .getOrElse(Array.fill(table.numBuckets)(Array.empty[(String, Long)]))
    val dir = outDir.toString
    def foldWriteJob(batchRdd: RDD[InternalRow]): Seq[BucketMerge] = {
      val writers = WriteBridge.parquetWriterFactory(spark, mergedSchema)
      val run = (batch: Iterator[InternalRow], target: Iterator[InternalRow]) => {
        val tc = TaskContext.get()
        mergeBucket(writers, dir, tc.partitionId(), tc.taskAttemptId(), mor)(batch, target)
          .iterator
      }
      (if (files.exists(_.nonEmpty)) batchRdd.zipPartitions(
        ScanBridge.bucketFilesRdd(spark, mergedSchema, files), preservesPartitioning = false)(run)
      else batchRdd.mapPartitions(run(_, Iterator.empty))).collect().toSeq
    }
    val tBatch = System.nanoTime()
    val side = batchSide(aligned, table.numBuckets)
    val tFold = System.nanoTime()
    val merged = side match {
      case Left(slices) =>
        val touched = slices.indices.filter(slices(_).nonEmpty)
        if (DriverScan.withinBound(spark, touched.map(files(_).map(_._2).sum).sum)) {
          // driver writers (no broadcast) and one driver task id
          val writers = WriteBridge.parquetWriterFactory(spark, mergedSchema, onDriver = true)
          val taskId = DriverScan.newTaskId()
          Par.onDriverThreads(spark, touched)(b =>
            mergeBucket(writers, dir, b, taskId, mor)(slices(b).iterator,
              DriverScan.read(spark, mergedSchema, files(b).map(_._1).toSeq).iterator)).flatten
        } else foldWriteJob(spark.sparkContext.parallelize(slices.toSeq, slices.length)
          .flatMap(_.iterator))
      case Right(exchanged) => foldWriteJob(exchanged)
    }
    if (merged.isEmpty) return Some(ApplyResult(skipped = false, base, 0, 0, 0, 0))
    val tMeta = System.nanoTime()
    // every touched bucket emits >=1 row (tombstones retained), so the
    // written bucket set IS the touched set. Cold start reports what it
    // wrote (winners, tombstones); the hot path its raw batch rows.
    val written = WrittenFile.byBucket(merged.map(_.file))
    val (batchRows, nDeletes) =
      if (snap.isEmpty) (written.rows.values.sum, written.tombstones.values.sum)
      else (merged.map(_.batchRows).sum, merged.map(_.batchDeletes).sum)

    // Manifest-list commit: ONE new manifest file for the touched buckets.
    // COW: prior refs keep their (untouched) buckets via mask subtraction —
    // no file list is ever rewritten, so commit metadata I/O is O(touched),
    // independent of how many data files the table holds; the rewrite of a
    // bucket also masks that bucket's MOR delta refs (the bucket-aligned
    // scan read base + deltas). MOR: one delta ref, no prior ref touched;
    // readers concatenate base + deltas per bucket in manifest-list order,
    // and bucketRows counts STORED rows (incl. superseded versions until
    // compact).
    val mine = written.files.keySet
    val change = TableChange(Ledger.Batch(writerId, batchId), mergedSchema.json,
      Seq(ManifestRef(table.writeManifest(base + 1, written.files), mine, delta = mor)),
      replaced = if (mor) Set.empty else mine, rows = written.rows,
      metrics = applyMetrics(batchRows, nDeletes, written, t0, tBatch, tFold, tMeta) ++
        // contention lineage: a commit whose merge had to RE-RUN against a
        // concurrent winner records which attempt landed (rebases record
        // "rebasedFrom" instead) — makes conflict cost auditable from history()
        (if (attemptNo > 1) Map("rerunAttempt" -> attemptNo.toLong) else Map.empty))
    def landed(version: Long) = ApplyResult(skipped = false, version, batchRows,
      mine.size, batchRows - nDeletes, nDeletes)

    stageName.foreach { n =>
      // WRITE of write-audit-publish: the full merge ran and its files +
      // manifest exist, but nothing is published — readers see the old head
      // until LakeTable.publishStaged CASes the staged ref in (O(metadata))
      // after LakeTable.readStaged's audit passes
      table.writeStaged(StagedRef(n, base, change))
      return Some(landed(base))
    }
    // Optimistic publish. COW: a concurrent commit that left OUR buckets'
    // resolved file lists exactly as the base snapshot had them cannot have
    // folded or superseded any row we merged — rebase is pure metadata. Any
    // change to our buckets (COW rewrite, MOR delta, compaction, resize)
    // means our fold is stale: drop the attempt's files and re-run the
    // merge (None → applyBatch loops). MOR: a delta is a pure append of
    // not-yet-seen rows, and the LWW fold is associative and
    // order-independent — appending our ref AFTER any concurrent commit
    // folds to the same winners as any other order — so a lost CAS always
    // rebases. (The one ordering caveat: concurrent compact(watermark) may
    // expire a tombstone our delta's late stale insert would have lost to;
    // the watermark contract — no in-flight source older than the watermark
    // — already forbids that input, exactly as in the sequential schedule.)
    CommitBuilder.commit(table, snap, change,
        if (mor) CommitBuilder.Rebase else CommitBuilder.RebaseIfUnchanged(mine)) match {
      case CommitBuilder.Committed(s) => Some(landed(s.version))
      case CommitBuilder.AlreadyApplied(head) =>
        // split brain: another instance of this writer already landed the
        // batch — exactly-once holds, our attempt is redundant
        deleteDir(outDir)
        Some(ApplyResult(skipped = true, head.version, 0, 0, 0, 0))
      case CommitBuilder.Stale(_) =>
        deleteDir(outDir)
        None
    }
  }

  /** An apply's commit metrics. `outputBytes`/`outputRows` are what its
    * files hold: a driver write has no task output metrics to show them.
    * Disjoint spans of `durationMs`: `batchSideMs` (the driver's decode and
    * split, or building the exchange's RDD, which runs its map stage under
    * adaptive execution), `foldWriteMs` and `metaMs` (manifest and commit).
    */
  private def applyMetrics(batchRows: Long, nDeletes: Long, written: WrittenFile.ByBucket,
      t0: Long, tBatch: Long, tFold: Long, tMeta: Long): Map[String, Long] = Map(
    "batchRows" -> batchRows,
    "upserts" -> (batchRows - nDeletes),
    "deletes" -> nDeletes,
    "touchedBuckets" -> written.files.size.toLong,
    "outputBytes" -> written.files.valuesIterator.flatten.map(_.bytes).sum,
    "outputRows" -> written.rows.values.sum,
    "batchSideMs" -> (tFold - tBatch) / 1000000,
    "foldWriteMs" -> (tMeta - tFold) / 1000000,
    "metaMs" -> (System.nanoTime() - tMeta) / 1000000,
    "durationMs" -> (System.nanoTime() - t0) / 1000000)

  /** Cold start (§3.1): single-pass full replay — read the whole changelog,
    * one global LWW, write every bucket, one commit. Replaces the reference's
    * two-pass detect-last-update + convert-winners workflow
    * (full-etl.asl.json:474-543) with one shuffle.
    */
  def replayFull(spark: SparkSession, table: LakeTable, changelog: DataFrame,
      writerId: String = "replay", batchId: Long = 0L): ApplyResult =
    applyBatch(spark, table, changelog, writerId, batchId)

  /** Compaction that folds deltas but retains EVERY tombstone — the variant
    * maintenance policies (auto-compaction) must use, since they cannot know
    * how late the source can still run. Returns rows in the compacted table,
    * or -1 if compaction yielded to sustained concurrent commits (see
    * [[compactMicros]] — retry at the next maintenance trigger).
    */
  def compactRetainTombstones(spark: SparkSession, table: LakeTable,
      textIndex: Boolean = false): Long =
    compactMicros(spark, table, Long.MinValue, textIndex = textIndex)

  /** Maintenance: drop tombstones older than `watermark` and rewrite all
    * buckets (compaction). Safe once no in-flight source can still produce
    * events with ts < watermark.
    */
  def compact(spark: SparkSession, table: LakeTable,
      watermark: java.sql.Timestamp, textIndex: Boolean = false): Long =
    compactMicros(spark, table,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(watermark),
      textIndex = textIndex)

  /** SELECTIVE compaction: fold only the given buckets' deltas and commit a
    * masked manifest list (old refs lose the targets, one new non-delta ref
    * claims them) — the rewrite is O(target buckets), not O(table). This is
    * the maintenance unit that holds at scale: a skewed tail drives deltas
    * into a few hot buckets, and rewriting the other 99% of a 100-TB table
    * to fold them is the wrong cost class. Tombstones are retained (a
    * maintenance policy cannot know how late the source runs); the manifest
    * LIST still grows by one ref per partial pass, so a periodic full
    * [[compactRetainTombstones]] (which resets the list) remains the
    * list-length bound — [[graft.streaming.CdcStream]]'s policy does both.
    * Returns rows written for the targets, 0 when none of them hold files,
    * or -1 after yielding to sustained concurrent commits.
    */
  def compactBucketsRetainTombstones(spark: SparkSession, table: LakeTable,
      buckets: Set[Int], textIndex: Boolean = false): Long =
    compactMicros(spark, table, Long.MinValue, Some(buckets), textIndex)

  /** Maintenance: rewrite the table under a NEW bucket count — the resize
    * path for the COW rewrite unit. A bucket must fit an executor (it is
    * both the merge fold's memory bound and the rewrite granularity), so a
    * table that has grown 100× needs more buckets; the bucket function is
    * part of the table's physical identity, so this is necessarily a full
    * one-shuffle rewrite (read folded state → repartition by the new key
    * hash → write all buckets → one commit), the same cost class as a
    * compaction plus one exchange. Tombstones ride along (physical state is
    * preserved exactly); the idempotence ledger carries over unchanged, so
    * a live writer resumes against the resized table transparently —
    * EXCEPT that any open handle (including the caller's) is stale: the
    * bucket count is frozen per handle, and every apply path re-checks it
    * against the snapshot and fails loudly. Use the returned handle.
    */
  def rebucket(spark: SparkSession, table: LakeTable, newNumBuckets: Int): LakeTable = {
    require(newNumBuckets > 0, s"invalid bucket count $newNumBuckets")
    val snap = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("empty table cannot be rebucketed"))
    table.checkBuckets(snap)
    val resized = new LakeTable(table.root, newNumBuckets)
    if (newNumBuckets == snap.numBuckets) return resized
    val version = snap.version + 1
    val outDir = table.attemptDir(version, "rebucket", snap.version)
    // fold deltas first if present (the rewrite must land key-unique rows);
    // COW state reads raw — tombstones included on both paths
    val state =
      if (snap.morDeltas) BucketLocal.readFolded(spark, snap, table.resolveFiles(snap))
      else table.readRaw(spark)
    // same alignment trick as the merge: repartition(newN, key) partition i
    // holds exactly the NEW bucket i's rows, so its task key-orders them and
    // writes the bucket's one file — no second exchange, and row counts +
    // FileStats come back with the task's result (no listing, no footers).
    // The rows are key-unique already, so the fold hands them back whole.
    val rows = ScanBridge.toInternalRdd(Model.alignToSchema(state, snap.schema)
        .repartition(newNumBuckets, Model.KeyCols.map(col): _*))
      .mapPartitions(it => BucketLocal.orderedWinners(snap.schema, it, spill = false))
    val written = WrittenFile.byBucket(BucketFileWriter.writeAll(rows,
      WriteBridge.parquetWriterFactory(spark, snap.schema), outDir.toString))
    val change = TableChange(Ledger.Untracked("rebucket", snap.version), snap.schemaJson,
      Seq(ManifestRef(table.writeManifest(version, written.files), written.files.keySet,
        delta = false)),
      replaced = (0 until snap.numBuckets).toSet, rows = written.rows,
      metrics = Map("rebucketedFrom" -> snap.numBuckets.toLong),
      numBuckets = Some(newNumBuckets))
    // a concurrent commit during the rewrite fails it — resizing under live
    // writers is the caller's coordination decision, so it propagates rather
    // than silently retrying
    CommitBuilder.commit(table, Some(snap), change, CommitBuilder.Never) match {
      case _: CommitBuilder.Committed => resized
      case _ => throw new CommitConflictException(version)
    }
  }

  private def compactMicros(spark: SparkSession, table: LakeTable,
      watermarkMicros: Long, targets: Option[Set[Int]] = None,
      textIndex: Boolean = false): Long = {
    // Compaction rewrites EVERY bucket, so a concurrent commit (which by
    // construction touches some bucket or the ledger) always invalidates the
    // attempt — a lost CAS can never rebase, it re-runs against the fresh
    // snapshot. Bounded: under a sustained faster writer, compaction yields
    // (returns -1) rather than livelocking the maintenance thread; the next
    // maintenance trigger retries.
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      val snap = table.currentSnapshot().getOrElse(return 0L)
      // Same physical-identity guard as the apply paths: a handle opened with a
      // different bucket count would silently REBUCKET the table here (the
      // bucket column derives from the handle, not the snapshot).
      table.checkBuckets(snap)
      // Bucket-local compaction: fold + expire inside each bucket's own task —
      // ZERO shuffles; compaction cost is exactly read + write (BucketLocal).
      // Each bucket decides its own fold from its manifest bytes: an
      // oversized one takes the disk-backed sort instead of OOMing the hash
      // fold. With `targets`, read + write only THOSE buckets (the others'
      // tasks open no file).
      val claimed = snap.manifests.flatMap(_.buckets).toSet
      // a target set covering every claimed bucket IS a full compaction —
      // take the list-resetting branch so the manifest list stays bounded
      val sel = targets.map(_.intersect(claimed)).filterNot(_ == claimed)
      if (targets.nonEmpty && sel.exists(_.isEmpty)) return 0L // nothing to fold
      val version = snap.version + 1
      val outDir = table.attemptDir(version, "compact", snap.version)
      // each bucket's task writes its compacted rows through the shared task
      // writer: key bounds + conv bloom (+ the opt-in token bloom) and row
      // counts come back with the result — no stat-less long-lived files,
      // no listing, no footer reads
      val written = WrittenFile.byBucket(BucketFileWriter.writeAll(
        BucketLocal.compactRows(spark, table, snap, watermarkMicros, sel),
        WriteBridge.parquetWriterFactory(spark, snap.schema), outDir.toString, textIndex))
      val rows = written.rows
      // Full compaction replaces every bucket, resetting the manifest list
      // to a single full manifest — the bound on manifest-list growth (one
      // delta ref per MOR commit between compactions). It also knows the
      // whole table's retained tombstone count exactly (every live file was
      // rewritten through the stats pass) — recorded so metadata-only
      // COUNT(*) pushdown can answer live-row counts without touching a data
      // file. A partial pass masks the targets out of every prior ref and
      // appends one non-delta ref claiming them (a target whose rows all
      // expired ends up claimed-with-no-files = empty); it can't know the
      // other buckets' tombstones, so it doesn't record them (absent =
      // unknown = no pushdown).
      val change = TableChange(Ledger.Untracked("compact", snap.version), snap.schemaJson,
        Seq(ManifestRef(table.writeManifest(version, written.files),
          sel.getOrElse(written.files.keySet), delta = false)),
        replaced = sel.getOrElse((0 until table.numBuckets).toSet), rows = rows,
        metrics = Map("compactedRows" -> rows.values.sum) ++ (sel match {
          case None => Map("tombstoneRows" -> written.tombstones.values.sum)
          case Some(t) => Map("compactedBuckets" -> t.size.toLong)
        }))
      CommitBuilder.commit(table, Some(snap), change, CommitBuilder.Never) match {
        case _: CommitBuilder.Committed => return rows.values.sum
        case _ => deleteDir(outDir)
      }
    }
    -1L
  }
}

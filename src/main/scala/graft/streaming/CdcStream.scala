package graft.streaming

import graft.model.Model
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming change-event tail: file source → foreachBatch MERGE.
  *
  * Replaces the reference's scheduled incremental workflow
  * (/root/reference docs/Architecture.md:71-85: find new source folders,
  * convert, delete-then-import per folder, marker files) with:
  *   - source offsets/WAL: the Structured Streaming checkpoint (folder
  *     discovery + "skip already converted", etl-start.py:104-106, for free)
  *   - apply: [[MergeApplier.applyBatch]] (the delete-then-insert pair
  *     becomes one atomic snapshot commit)
  *   - exactly-once: checkpoint replay × the table's batchId ledger
  *   - backpressure: maxFilesPerTrigger (the reference's manifest batching,
  *     etl-start.py:115-133)
  *
  * Operational contract: a pipeline's identity is (writerId, checkpointDir)
  * — resume reuses BOTH; a fresh checkpoint restarts Structured Streaming
  * batchIds at 0, so it must come with a fresh writerId or the table ledger
  * will (by design) swallow the first batches as that writer's replays.
  * This asymmetry is exactly what makes a LOST checkpoint safe: re-tailing
  * the same source with the same writerId dedupes instead of double-applying
  * (StreamSpec "lost checkpoint"; LifecycleSpec pins the mode-switch case).
  */
object CdcStream {

  def source(spark: SparkSession, dir: String,
      schema: StructType = Model.changeEventSchema,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Start the tail. Resuming with the same checkpointDir after a kill
    * continues from the committed offsets; a replayed micro-batch is detected
    * by the table ledger and skipped — no duplicates, no gaps.
    */
  def start(spark: SparkSession, sourceDir: String, table: LakeTable,
      checkpointDir: String, writerId: String = "stream",
      maxFilesPerTrigger: Int = 4,
      schema: StructType = Model.changeEventSchema,
      trigger: Trigger = Trigger.AvailableNow(),
      mode: String = "cow",
      autoCompactEvery: Int = 0): StreamingQuery = {
    // the table write mode of every batch (MergeApplier.isMor): cow rewrites
    // the touched buckets (read-optimized steady state), mor appends deltas
    // (write-optimized tail; compact later). An unknown mode fails here,
    // before the stream starts.
    MergeApplier.isMor(mode)
    ForkFreeCheckpointFileManager.install(spark)
    source(spark, sourceDir, schema, maxFilesPerTrigger)
      .writeStream
      .queryName(s"cdc-tail-$writerId")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MergeApplier.applyBatch(spark, table, batch, writerId, batchId, mode)
        // LSM maintenance policy: once a BUCKET's delta depth reaches
        // `autoCompactEvery`, fold that bucket down — selective compaction
        // rewrites O(deep buckets), not O(table), which is the unit that
        // holds when a skewed tail drives deltas into a few hot buckets of
        // a 100-TB table. Compaction is bucket-local (zero shuffles,
        // read+write only), runs BETWEEN batches on the same single-writer
        // driver, and commits its own snapshot version — a crash
        // mid-compact loses nothing (the un-published rewrite is an
        // orphan; the ledger is untouched, so resume re-tails from the
        // last applied batch). Auto-compaction must never expire a
        // tombstone late events could still contend with, so it only
        // merges versions (retain-tombstones variants); explicit
        // compact(watermark) is the tombstone-expiry path. Each partial
        // pass appends one manifest ref; a uniform tail reaches the depth
        // bound on every bucket at once, which compactMicros detects and
        // turns into the list-RESETTING full branch — but a skewed tail
        // keeps shallow buckets' refs alive, so the manifest LIST length
        // gets its own bound: past 4× the depth bound, run one full pass.
        if (autoCompactEvery > 0) {
          table.currentSnapshot().foreach { s =>
            val deep = table.deltaDepths(s)
              .filter(_._2 >= autoCompactEvery).keySet
            if (s.manifests.size >= 4 * autoCompactEvery.max(2))
              MergeApplier.compactRetainTombstones(spark, table)
            else if (deep.nonEmpty)
              MergeApplier.compactBucketsRetainTombstones(spark, table, deep)
          }
        }
        ()
      }
      .start()
  }

  /** Run the tail to exhaustion of currently-available input and stop. */
  def runAvailableNow(spark: SparkSession, sourceDir: String, table: LakeTable,
      checkpointDir: String, writerId: String = "stream",
      maxFilesPerTrigger: Int = 4,
      schema: StructType = Model.changeEventSchema,
      mode: String = "cow",
      autoCompactEvery: Int = 0): Unit = {
    val q = start(spark, sourceDir, table, checkpointDir, writerId,
      maxFilesPerTrigger, schema, Trigger.AvailableNow(), mode, autoCompactEvery)
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }
}

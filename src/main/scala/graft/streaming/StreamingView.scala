package graft.streaming

import graft.operators.IncrementalAgg
import graft.table.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CONTINUOUS materialized-view maintenance: the table-backed per-conversation
  * stats view ([[graft.operators.IncrementalAgg]]) kept fresh by a streaming
  * query over the base table's change data feed ([[LakeCdfSourceProvider]]) —
  * the "derived table that maintains itself" capability (Delta Live
  * Tables-style), composed from parts the engine already has:
  *
  *   - the SOURCE is the lake-cdf stream with `updatePreImages=true` and
  *     `deleteTombstones=false`: the subtraction algebra needs each delete's
  *     PRE-image (the row being removed — its chars/role are what gets
  *     subtracted), not the tombstone's version stamp. This is the batch
  *     refresh's exact feed contract (`changesBetween(withUpdatePreImages =
  *     true)`), delivered incrementally;
  *   - each micro-batch applies through [[IncrementalAgg.applyFeedToTable]]
  *     with batchId = the micro-batch id: monotone, so successive refreshes
  *     LWW-order correctly on every key, and exactly-once under checkpoint
  *     replay via the view table's (writerId, batchId) ledger;
  *   - `maxVersionsPerTrigger` bounds how many base commits fold into one
  *     refresh — the freshness/efficiency knob (more versions per trigger =
  *     fewer view commits and better delta batching; fewer = lower lag).
  *
  * Scale shape: identical to the pull refresh (O(touched-bucket content + Δ)
  * per trigger, never O(base) after bootstrap, view writes pruned to affected
  * conversations' buckets), plus the stream's own properties — offsets are
  * base versions in the checkpoint, and a killed maintainer resumes exactly
  * where it stopped with no missed or doubled windows. The pull API stays for
  * schedulers that own their cadence; this is the push deployment of the SAME
  * maintenance core, so the two cannot drift semantically.
  */
object StreamingView {

  def start(spark: SparkSession, baseRoot: String, view: LakeTable,
      checkpointDir: String, writerId: String = "statsview-stream",
      maxVersionsPerTrigger: Long = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    ForkFreeCheckpointFileManager.install(spark)
    spark.readStream.format("lake-cdf")
      .option("path", baseRoot)
      .option("updatePreImages", true)
      .option("deleteTombstones", false) // subtraction needs the delete's PRE-image
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .load()
      .writeStream
      .queryName(s"lake-statsview-$writerId")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IncrementalAgg.applyFeedToTable(spark, view, batch, writerId, batchId)
      }
      .start()
  }

  /** Catch the view up to the base's current version and stop. */
  def runAvailableNow(spark: SparkSession, baseRoot: String, view: LakeTable,
      checkpointDir: String, writerId: String = "statsview-stream",
      maxVersionsPerTrigger: Long = 16): Unit = {
    val q = start(spark, baseRoot, view, checkpointDir, writerId,
      maxVersionsPerTrigger, Trigger.AvailableNow())
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }
}

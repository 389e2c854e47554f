package graft.streaming

import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Exactly-once table→table replication: tail table A's change data feed
  * ([[LakeCdfSourceProvider]]) and apply it to table B as ordinary MERGE
  * batches. This is the pipeline-chaining capability the reference pipeline
  * delegates to full re-imports (its GraphDB sink cannot be tailed), composed
  * here entirely from parts the engine already has:
  *
  *   - the FEED is exactly-once per version window (offsets = source table
  *     versions in the streaming checkpoint);
  *   - the APPLY is idempotent per micro-batch (the destination table's
  *     writerId→batchId ledger swallows checkpoint replays);
  *   - deletes arrive with the TOMBSTONE's (ts, seq) (`deleteTombstones`,
  *     the feed's replication contract), so the destination's LWW fold
  *     orders them after the replica's live row and a late stale insert
  *     cannot resurrect a replicated delete;
  *   - LWW is order- and batching-independent, so the replica converges to
  *     the source's exact state no matter how versions batch into triggers
  *     (`maxVersionsPerTrigger` is purely an admission-control knob).
  *
  * The replica is a REAL table: it accepts its own reads, compactions,
  * vacuum, even further chained replicas. Fan-out (one source, many
  * replicas) is N independent streams, each with its own checkpoint; the
  * source pays only metadata diffs plus the touched-bucket reads per
  * consumer.
  *
  * Caveats (inherited from the feed):
  *   - replication across a tombstone-expiring `compact(watermark)` on the
  *     SOURCE is not exactly-once for the expired keys — coordinate
  *     retention with replica lag;
  *   - a source VACUUM that expires the checkpointed snapshot kills the
  *     stream loudly (planInputPartitions names the missing version).
  *     Re-bootstrap into a FRESH replica table: the bootstrap window emits
  *     only live rows, so it cannot deliver deletes the stale replica
  *     missed — rebuilding is the correct recovery, same as Delta CDF
  *     across VACUUM.
  */
object Replicate {

  /** A CDF frame re-expressed as a changelog batch the MERGE paths accept:
    * update pre-images dropped, `change_type` → `op` (the values coincide
    * by construction: insert | update | delete).
    */
  def asChangeEvents(feed: DataFrame): DataFrame =
    feed.filter(col("change_type") =!= "update_preimage")
      .withColumnRenamed("change_type", "op")

  def start(spark: SparkSession, sourceRoot: String, dest: LakeTable,
      checkpointDir: String, writerId: String = "replica",
      maxVersionsPerTrigger: Long = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      mode: String = "cow"): StreamingQuery = {
    MergeApplier.isMor(mode) // an unknown mode fails before the stream starts
    ForkFreeCheckpointFileManager.install(spark)
    spark.readStream.format("lake-cdf")
      .option("path", sourceRoot)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .load()
      .transform(asChangeEvents)
      .writeStream
      .queryName(s"lake-replica-$writerId")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        MergeApplier.applyBatch(spark, dest, batch, writerId, batchId, mode); ()
      }
      .start()
  }

  /** Catch the replica up to the source's current version and stop. */
  def runAvailableNow(spark: SparkSession, sourceRoot: String, dest: LakeTable,
      checkpointDir: String, writerId: String = "replica",
      maxVersionsPerTrigger: Long = 16, mode: String = "cow"): Unit = {
    val q = start(spark, sourceRoot, dest, checkpointDir, writerId,
      maxVersionsPerTrigger, Trigger.AvailableNow(), mode)
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }
}

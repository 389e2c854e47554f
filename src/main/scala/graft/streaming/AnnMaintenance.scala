package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.AnnIndex

import java.nio.file.Paths

/** STREAMING maintenance of a persisted ANN index: tail a lake table's
  * change feed (`lake-cdf`) and keep the index fresh — the CDC closure of
  * the index lifecycle. The reference ships vectors to an external search
  * service and re-syncs out of band (reference: etl/load, GraphDB
  * delegation); here the index FOLLOWS the table the same way a replica or
  * a materialized view does: one streaming query, offsets = table versions,
  * O(changed buckets) per trigger on the source side and O(batch)
  * quantize+append on the index side. Nothing rescans the corpus — at 10^10
  * stored vectors the train+encode rebuild is a scheduled maintenance job,
  * not a per-arrival cost.
  *
  * Contract:
  *   - `mutations` picks the update/delete policy. `"fail"` (default): the
  *     stream fails loudly on any non-insert change — the index is treated
  *     as append-only. `"skip"`: non-inserts are dropped, accepting
  *     documented staleness (the index serves the superseded vector until
  *     the periodic rebuild — the classic ANN-sidecar mode where deletes
  *     are filtered at query time against the primary store). `"apply"`:
  *     the FULL LWW closure — each micro-batch (a net endpoint diff, one
  *     change per key) becomes one index generation via
  *     [[AnnIndex.applyChanges]]: updates/deletes write generation-tagged
  *     tombstones, replacement vectors are quantized against the stored
  *     model and appended with the same generation, and search kills
  *     strictly-older rows — no rebuild, no staleness window beyond the
  *     trigger cadence. The feed nets changes per TABLE key; if `idCol` is
  *     coarser (e.g. one vector per conv_id over a (conv_id, turn_idx)
  *     table), one batch can carry several changes for one index id —
  *     applyChanges REJECTS that loudly (same-gen ties would corrupt LWW);
  *     collapse to one net change per id upstream, or key the index by the
  *     full table key.
  *   - EXACTLY-ONCE across restarts: the ledger is the index meta's
  *     `lastBatchId`, which commits in the same atomic meta write as the
  *     batch's data ([[AnnIndex.append]]/[[AnnIndex.applyChanges]] with the
  *     batch id). A replayed foreachBatch id at or below it is skipped; a
  *     batch that CRASHED mid-apply is settled by [[AnnIndex.recover]]
  *     (uncommitted files deleted) and re-applied — a torn batch can never
  *     double-admit a vector or leave a half-applied generation. A rebuild
  *     keeps `lastBatchId`, so a replay after it stays a no-op.
  *   - Centroid drift is the appender's limit (search stays CORRECT at any
  *     probe count — exhaustive probe stays exact — but partial-probe
  *     recall decays as lists grow lopsided): schedule rebuilds like
  *     compaction, e.g. `CALL cat.system.ann_build` from the same cron that
  *     calls `compact`.
  */
object AnnMaintenance {

  private val Modes = Set("fail", "skip", "apply")

  /** Start the maintenance stream. `startingVersion` follows the lake-cdf
    * contract: "earliest" bootstraps the CURRENT table state as inserts
    * (use when the index starts empty... it cannot — [[AnnIndex.buildIvf]]
    * needs a corpus to train on, so the normal shape is: build on the state
    * as of version V, then maintain with `startingVersion = V.toString`).
    */
  def start(spark: SparkSession, sourceRoot: String, indexRoot: String,
      checkpointDir: String, idCol: String = "conv_id",
      vecCol: String = "embedding", startingVersion: String = "earliest",
      maxVersionsPerTrigger: Long = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      mutations: String = "fail"): StreamingQuery = {
    require(Modes(mutations),
      s"mutations must be one of ${Modes.mkString("|")}, got '$mutations'")
    ForkFreeCheckpointFileManager.install(spark)
    spark.readStream.format("lake-cdf")
      .option("path", sourceRoot)
      .option("startingVersion", startingVersion)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .load()
      .writeStream
      .queryName(s"ann-maintenance-${Paths.get(indexRoot).getFileName}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, indexRoot, batch, batchId, idCol, vecCol, mutations)
      }
      .start()
  }

  /** Catch the index up to the table's current version and stop. */
  def runAvailableNow(spark: SparkSession, sourceRoot: String,
      indexRoot: String, checkpointDir: String, idCol: String = "conv_id",
      vecCol: String = "embedding", startingVersion: String = "earliest",
      maxVersionsPerTrigger: Long = 16,
      mutations: String = "fail"): Unit = {
    val q = start(spark, sourceRoot, indexRoot, checkpointDir, idCol, vecCol,
      startingVersion, maxVersionsPerTrigger, Trigger.AvailableNow(),
      mutations)
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  /** One micro-batch against the index, exactly once by the meta's
    * `lastBatchId`. Package-visible so the spec can drive replay/crash
    * shapes deterministically.
    */
  private[streaming] def applyBatch(spark: SparkSession, indexRoot: String,
      batch: DataFrame, batchId: Long, idCol: String, vecCol: String,
      mutations: String): Unit = {
    require(Modes(mutations),
      s"mutations must be one of ${Modes.mkString("|")}, got '$mutations'")
    AnnIndex.recover(indexRoot)
    val meta = AnnIndex.readMeta(indexRoot)
    if (batchId <= meta.lastBatchId) return // checkpoint replay: already applied

    // one pass over the batch: the change-class counts ride the feed's
    // checkpoint job via observe() (pre-images are metadata for OTHER
    // consumers — never index content). The checkpoint also keeps the
    // downstream append/mutation path from re-reading the change feed's
    // bucket-diff files a second time.
    val obs = org.apache.spark.sql.Observation()
    val b = batch
      .observe(obs,
        count(when(col("change_type") === "insert", 1)).as("ins"),
        count(when(col("change_type").isin("update", "delete"), 1)).as("mut"))
      .localCheckpoint(true)
    val (ins, mut) = (obs.get("ins").asInstanceOf[Long],
      obs.get("mut").asInstanceOf[Long])
    require(mut == 0 || mutations != "fail",
      s"ann maintenance batch $batchId carries $mut update/delete change(s): " +
        "the index is being maintained append-only — pass mutations=\"apply\" " +
        "for the tombstone-based LWW closure, mutations=\"skip\" to drop them " +
        "(index serves stale vectors until rebuild), or rebuild to absorb them")

    val work = if (mutations == "apply") ins + mut else ins
    if (work == 0) AnnIndex.writeMetaFor(indexRoot, meta.copy(lastBatchId = batchId))
    else if (mutations == "apply")
      AnnIndex.applyChanges(spark, indexRoot,
        b.filter(col("change_type").isin("insert", "update", "delete")),
        idCol, vecCol, batchId = batchId)
    else
      AnnIndex.append(spark, indexRoot,
        b.filter(col("change_type") === "insert").filter(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol)),
        idCol, vecCol, batchId)
  }
}

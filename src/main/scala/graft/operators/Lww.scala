package graft.operators

import graft.model.Model
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-write-wins deduplication: keep, per (conv_id, turn_idx), the event
  * with the greatest (ts, seq).
  *
  * This replaces the reference's two-pass Redis max-version dance
  * (/root/reference .../SpecialCases.java:221-233 — pass 1 CAS-maxes the
  * version per key into Redis, pass 2 re-reads everything and keeps rows whose
  * version equals the stored max) with a single distributed pass.
  *
  * Three physical strategies, same semantics:
  *
  *   - [[latestByKeyAgg]] (the DataFrame default, used by the SQL gate
  *     queries): `max_by(struct(*), struct(ts, seq))`. Catalyst plans this as
  *     partial agg (map-side combine) → shuffle on key → final agg. Skewed
  *     hot conversations are absorbed by the PARTIAL aggregation: each input
  *     partition pre-collapses its duplicates before the shuffle, so the
  *     reducer for a hot key receives at most one row per upstream partition
  *     — built-in salting, no manual salt column, no sort. This is the plan
  *     that survives 10^10 events.
  *
  *   - [[latestByKeyWindow]]: `row_number` over a (key → ts desc, seq desc)
  *     window. Simpler to mirror in ANSI SQL (the oracle uses exactly this),
  *     but it sorts every partition and a hot key lands on one reducer — kept
  *     for oracle parity and for comparison benchmarks.
  *
  *   - [[latestByKeySalted]]: the window variant made skew-proof with an
  *     explicit two-level salt, for when row_number semantics are required
  *     at scale (e.g. rank > 1 history queries).
  *
  * The table write paths (replay, COW/MOR apply, compaction) use none of
  * these: they fold each bucket in its own task with [[BucketLocal.wins]].
  */
object Lww {
  import Model.{KeyCols, VersionCols}

  private def versionStruct = struct(VersionCols.map(col): _*)

  /** Scalable LWW: partial+final hash agg, no sort, skew-tolerant. */
  def latestByKeyAgg(events: DataFrame): DataFrame = {
    val cols = events.columns
    events
      .groupBy(KeyCols.map(col): _*)
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), versionStruct).as("w"))
      .select(cols.map(c => col(s"w.$c").as(c)).toIndexedSeq: _*)
  }

  /** Window-ranking LWW (ANSI-mirrorable; one reducer per key). */
  def latestByKeyWindow(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(KeyCols.map(col): _*)
      .orderBy(col("ts").desc, col("seq").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Skew-proof window LWW: salt the key, take per-salt winners (small), then
    * resolve winners-of-winners. Shuffle 1 is over (key, salt) — hot keys are
    * spread over `salts` reducers; shuffle 2 sees ≤ `salts` rows per key.
    */
  def latestByKeySalted(events: DataFrame, salts: Int = 16): DataFrame = {
    val salted = events.withColumn("__salt", pmod(col("seq"), lit(salts)))
    val w1 = Window.partitionBy((KeyCols :+ "__salt").map(col): _*)
      .orderBy(col("ts").desc, col("seq").desc)
    val perSalt = salted.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1).drop("__rn")
    latestByKeyWindow(perSalt.drop("__salt"))
  }
}

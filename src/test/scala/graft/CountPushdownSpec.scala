package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.sql.Timestamp

/** Metadata-only COUNT(*): after a FULL compaction (which records the
  * retained-tombstone count), `SELECT COUNT(*)` answers from the snapshot
  * without opening a data file; any state the metadata cannot prove exact
  * (deltas, unknown tombstones) falls back to the real scan.
  */
class CountPushdownSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def build(root: String): LakeTable = {
    val t = new LakeTable(root, numBuckets = 4)
    MergeApplier.applyBatch(spark, t, spark.createDataset(
      (0 until 30).map(i => ev(s"c$i", i % 3, s"v$i", "2025-01-01 10:00:00", i.toLong))).toDF(),
      "w", 0L, mode = "mor")
    // delete 5 keys (tombstones retained by the maintenance compaction)
    MergeApplier.applyBatch(spark, t, spark.createDataset(
      (0 until 5).map(i => ev(s"c$i", i % 3, null, "2025-01-02 10:00:00", 100L + i,
        op = "delete"))).toDF(), "w", 1L, mode = "mor")
    t
  }

  test("compacted table: COUNT(*) is metadata-only (answers with data files gone)") {
    val root = tmpDir("cp-meta")
    val t = build(root)
    MergeApplier.compactRetainTombstones(spark, t)
    val df = spark.read.format("lake").option("path", root).load()
    assert(df.count() == 25L) // 30 inserts − 5 tombstoned
    assert(t.read(spark).count() == 25L, "pushdown must equal the real read")
    // the plan must be the count scan, not a parquet pass
    val plan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("LakeAggScan"), s"expected pushed count:\n$plan")
    // physical proof: with every data file deleted the count still answers
    t.resolveFiles(t.currentSnapshot().get).values.flatten.foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(spark.read.format("lake").option("path", root).load().count() == 25L)
    intercept[Exception] {
      spark.read.format("lake").option("path", root).load().collect()
    }
  }

  test("unsound states fall back to the scan: deltas present or filters applied") {
    val root = tmpDir("cp-fallback")
    val t = build(root)
    // no compaction yet: delta-carrying snapshot must NOT push down, and
    // must still count correctly through the fold
    val df0 = spark.read.format("lake").option("path", root).load()
    assert(df0.count() == 25L)
    assert(!df0.groupBy().count().queryExecution.executedPlan.toString
      .contains("LakeAggScan"))
    // compaction turns pushdown on; a subsequent MOR append turns it off
    MergeApplier.compactRetainTombstones(spark, t)
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("c999", 0, "new", "2025-01-03 10:00:00", 500L))).toDF(), "w", 2L, mode = "mor")
    val df1 = spark.read.format("lake").option("path", root).load()
    assert(df1.count() == 26L)
    assert(!df1.groupBy().count().queryExecution.executedPlan.toString
      .contains("LakeAggScan"))
    // a filtered count never pushes (the residual Filter blocks the rule)
    MergeApplier.compactRetainTombstones(spark, t)
    val filtered = spark.read.format("lake").option("path", root).load()
      .filter(org.apache.spark.sql.functions.col("conv_id") === "c999")
    assert(filtered.count() == 1L)
    assert(!filtered.groupBy().count().queryExecution.executedPlan.toString
      .contains("LakeAggScan"))
  }

  test("MIN/MAX over key columns push down once tombstones are known zero") {
    val root = tmpDir("cp-minmax")
    val t = build(root)
    // retained tombstones: COUNT may push, MIN/MAX must NOT (a tombstoned
    // key could be the extreme — c0 IS the stored min_conv but is dead)
    MergeApplier.compactRetainTombstones(spark, t)
    val agg0 = spark.read.format("lake").option("path", root).load()
      .agg(org.apache.spark.sql.functions.min("conv_id").as("min_conv_id"),
        org.apache.spark.sql.functions.max("conv_id").as("max_conv_id"))
    assert(!agg0.queryExecution.executedPlan.toString.contains("LakeAggScan"))
    assert(agg0.collect().head.getString(0) == "c10") // live min (c0..c4 dead)
    // a full compaction whose watermark expires every tombstone → exact
    MergeApplier.compact(spark, t, Timestamp.valueOf("2030-01-01 00:00:00"))
    val df = spark.read.format("lake").option("path", root).load()
    val agg1 = df.agg(
      org.apache.spark.sql.functions.min("conv_id").as("min_conv_id"),
      org.apache.spark.sql.functions.max("conv_id").as("max_conv_id"),
      org.apache.spark.sql.functions.min("turn_idx").as("min_turn_idx"),
      org.apache.spark.sql.functions.max("turn_idx").as("max_turn_idx"),
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(agg1.queryExecution.executedPlan.toString.contains("LakeAggScan"),
      s"expected pushed agg:\n${agg1.queryExecution.executedPlan}")
    val r = agg1.collect().head
    assert(r.getString(0) == "c10" && r.getString(1) == "c9")
    assert(r.getInt(2) == 0 && r.getInt(3) == 2 && r.getLong(4) == 25L)
    // physical proof: answers with every data file gone
    t.resolveFiles(t.currentSnapshot().get).values.flatten.foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(spark.read.format("lake").option("path", root).load()
      .agg(org.apache.spark.sql.functions.max("conv_id")).collect().head.getString(0) == "c9")
    // an aggregate the metadata cannot answer (MAX(ts)) blocks the WHOLE
    // pushdown — falls back to the scan, which now fails on missing files
    intercept[Exception] {
      spark.read.format("lake").option("path", root).load()
        .agg(org.apache.spark.sql.functions.max("conv_id"),
          org.apache.spark.sql.functions.max("ts")).collect()
    }
  }

  test("SQL COUNT(*) through the catalog pushes down") {
    val base = tmpDir("cp-sql")
    val t = build(s"$base/t")
    MergeApplier.compactRetainTombstones(spark, t)
    spark.conf.set("spark.sql.catalog.cpcat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cpcat.base", base)
    val q = spark.sql("SELECT COUNT(*) AS n FROM cpcat.t")
    assert(q.collect().head.getLong(0) == 25L)
    assert(q.queryExecution.executedPlan.toString.contains("LakeAggScan"))
    // mixed COUNT/MIN/MAX over SQL: not yet eligible (tombstones retained by
    // the maintenance compaction) → falls back; after the watermark
    // compaction the whole row answers from metadata
    val mixed = "SELECT COUNT(*) AS n, MIN(conv_id) AS mn, MAX(turn_idx) AS mx FROM cpcat.t"
    assert(!spark.sql(mixed).queryExecution.executedPlan.toString.contains("LakeAggScan"))
    MergeApplier.compact(spark, t, Timestamp.valueOf("2030-01-01 00:00:00"))
    val m = spark.sql(mixed)
    assert(m.queryExecution.executedPlan.toString.contains("LakeAggScan"))
    val r = m.collect().head
    assert(r.getLong(0) == 25L && r.getString(1) == "c10" && r.getInt(2) == 2)
  }
}

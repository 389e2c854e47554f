package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** Safe type widening (int→long, float→double) as schema evolution: old
  * parquet files are never rewritten — the reader PROMOTES their narrower
  * physical values under the widened snapshot schema, exactly like additive
  * columns read as nulls.
  */
class SchemaWideningSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long): ChangeEvent =
    ChangeEvent(conv, turn, "user", text, None, ts(t), op, seq)

  private def batchDf(events: Seq[ChangeEvent]) = spark.createDataset(events).toDF()

  test("mergeSchemas widens value columns both directions and rejects the rest") {
    val base = StructType(Seq(
      StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("score", IntegerType), StructField("conf", FloatType)))
    def tpe(s: StructType, c: String) = s.fields(s.fieldIndex(c)).dataType
    // wider incoming widens the table
    val w1 = Model.mergeSchemas(base, StructType(Seq(
      StructField("score", LongType), StructField("conf", DoubleType))))
    assert(tpe(w1, "score") == LongType && tpe(w1, "conf") == DoubleType)
    // narrower incoming keeps the wide table type (batch casts up)
    val w2 = Model.mergeSchemas(w1, StructType(Seq(StructField("score", IntegerType))))
    assert(tpe(w2, "score") == LongType)
    // int→string is not widening
    intercept[IllegalArgumentException] {
      Model.mergeSchemas(base, StructType(Seq(StructField("score", StringType))))
    }
    // key/version columns never retype, even "safely"
    val e = intercept[IllegalArgumentException] {
      Model.mergeSchemas(base, StructType(Seq(StructField("turn_idx", LongType))))
    }
    assert(e.getMessage.contains("key/version"))
  }

  test("COW: an int score column widens to long; old files read promoted through merge and scan") {
    val table = new LakeTable(tmpDir("widen-cow"), numBuckets = 4)
    // batch 0 carries score:int
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(
        ev("cA", 0, "a0", "2025-01-01 00:00:00", "insert", 1),
        ev("cA", 1, "a1", "2025-01-01 00:00:01", "insert", 2),
        ev("cB", 0, "b0", "2025-01-01 00:00:02", "insert", 3)))
        .withColumn("score", col("turn_idx").cast("int") * 10), "w", 0L)
    assert(table.currentSnapshot().get.schema("score").dataType == IntegerType)
    // batch 1 carries score:long (wider) and UPDATES one old-file key — the
    // merge fold itself must read the int32 base promoted to long
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(
        ev("cA", 1, "a1'", "2025-01-01 00:01:00", "update", 4),
        ev("cC", 0, "c0", "2025-01-01 00:01:01", "insert", 5)))
        .withColumn("score", lit(5000000000L) + col("turn_idx")), "w", 1L)
    assert(table.currentSnapshot().get.schema("score").dataType == LongType)
    val out = table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r.getAs[Long]("score"))
      .toMap
    // cB/0 lives in an UNTOUCHED bucket or file written as int32 → promoted;
    // cA/1's winner came from the wide batch; the long value exceeds Int range
    assert(out == Map(("cA", 0) -> 0L, ("cA", 1) -> 5000000001L,
      ("cB", 0) -> 0L, ("cC", 0) -> 5000000000L))
    // a narrower int batch into the widened table casts up on write
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(ev("cB", 0, "b0'", "2025-01-01 00:02:00", "update", 6)))
        .withColumn("score", lit(7).cast("int")), "w", 2L)
    assert(table.read(spark).filter(col("conv_id") === "cB")
      .head().getAs[Long]("score") == 7L)
  }

  test("MOR: widening arrives in a delta; fold and compaction read mixed-width files promoted") {
    val table = new LakeTable(tmpDir("widen-mor"), numBuckets = 2)
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(
        ev("c", 0, "x", "2025-01-01 00:00:00", "insert", 1),
        ev("c", 1, "y", "2025-01-01 00:00:01", "insert", 2)))
        .withColumn("conf", lit(0.5f)), "w", 0L)
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(ev("c", 0, "x'", "2025-01-01 00:01:00", "update", 3)))
        .withColumn("conf", lit(0.25d)), "w", 1L, mode = "mor")
    assert(table.currentSnapshot().get.schema("conf").dataType == DoubleType)
    def state() = table.read(spark).collect()
      .map(r => r.getAs[Int]("turn_idx") -> r.getAs[Double]("conf")).toMap
    assert(state() == Map(0 -> 0.25d, 1 -> 0.5d)) // float32 0.5 promotes exactly
    // compaction folds the float32 base with the float64 delta and writes wide
    MergeApplier.compactRetainTombstones(spark, table)
    assert(state() == Map(0 -> 0.25d, 1 -> 0.5d))
    assert(!table.currentSnapshot().get.morDeltas)
  }

  test("change feed and time travel read promoted across a widening boundary") {
    val table = new LakeTable(tmpDir("widen-feed"), numBuckets = 2)
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(ev("c", 0, "x", "2025-01-01 00:00:00", "insert", 1)))
        .withColumn("score", lit(3).cast("int")), "w", 0L)
    MergeApplier.applyBatch(spark, table,
      batchDf(Seq(ev("c", 1, "y", "2025-01-01 00:01:00", "insert", 2)))
        .withColumn("score", lit(6000000000L)), "w", 1L)
    // time travel to v1 serves the PRE-widening snapshot under its own schema
    val v1 = table.read(spark, asOfVersion = Some(1L))
    assert(v1.schema("score").dataType == IntegerType)
    assert(v1.head().getAs[Int]("score") == 3)
    // the v1→v2 feed diffs an int32 'from' against an int64 'to' under the
    // 'to' schema — both sides promoted consistently
    val feed = graft.operators.ChangeFeed.changesBetween(spark, table, 1L, 2L)
    val byTurn = feed.collect().map(r =>
      r.getAs[Int]("turn_idx") -> (r.getAs[String]("change_type"), r.getAs[Long]("score"))).toMap
    assert(byTurn == Map(1 -> (("insert", 6000000000L))))
  }
}

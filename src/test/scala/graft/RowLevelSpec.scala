package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** SQL MERGE INTO / UPDATE / subquery-DELETE through the group-based
  * row-level operation path (group = bucket): correctness, tombstone
  * preservation, and delta-append of inserts landing outside scanned groups.
  */
class RowLevelSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long): ChangeEvent =
    ChangeEvent(conv, turn, "user", text, None, ts(t), op, seq)

  private def apply(table: LakeTable, batch: Seq[ChangeEvent], id: Long): Unit =
    MergeApplier.applyBatch(spark, table, spark.createDataset(batch).toDF(), "w", id)

  private def cat(name: String, base: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
  }

  test("UPDATE rewrites matching rows; non-matching rows and buckets survive") {
    val base = tmpDir("rlo-upd")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, (0 until 20).map(i =>
      ev(s"c${i % 5}", i / 5, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    cat("updcat", base)

    spark.sql("UPDATE updcat.convs SET role = 'assistant' WHERE conv_id = 'c2'")
    val rows = spark.sql("SELECT conv_id, role FROM updcat.convs").collect()
    assert(rows.length == 20)
    assert(rows.filter(_.getString(0) == "c2").forall(_.getString(1) == "assistant"))
    assert(rows.filter(_.getString(0) != "c2").forall(_.getString(1) == "user"))
    // updated rows keep their (ts, seq) version unless SET says otherwise
    val kept = spark.sql("SELECT seq FROM updcat.convs WHERE conv_id='c2' ORDER BY turn_idx")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 7L, 12L, 17L))

    // GROUP PRUNING: the runtime group filter (`_bucket IN (matched)`)
    // restricted the rewrite to c2's buckets — the commit metrics prove only
    // those groups were replaced, not the whole table
    val want = (0 until 4).map(i => t.bucketFor("c2", i)).toSet
    val m = t.currentSnapshot().get.metrics
    assert(m("replacedBuckets") == want.size.toLong,
      s"expected ${want.size} replaced buckets, metrics were $m")
    assert(m("replacedBuckets") < 4, "selective UPDATE must not rewrite every bucket")
  }

  test("_bucket metadata column: selectable, correct, hidden from SELECT *") {
    val base = tmpDir("rlo-meta")
    val t = new LakeTable(s"$base/convs", numBuckets = 8)
    apply(t, (0 until 10).map(i =>
      ev(s"c$i", 0, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    cat("metacat", base)
    assert(!spark.sql("SELECT * FROM metacat.convs").schema.fieldNames.contains("_bucket"))
    val got = spark.sql("SELECT conv_id, _bucket FROM metacat.convs").collect()
      .map(r => (r.getString(0), r.getInt(1))).toMap
    (0 until 10).foreach(i => assert(got(s"c$i") == t.bucketFor(s"c$i", 0),
      s"_bucket drift for c$i"))
  }

  test("MERGE INTO upserts: matched update, not-matched insert, exact key equality on ON") {
    val base = tmpDir("rlo-merge")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, Seq(
      ev("a", 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev("a", 1, "a1", "2025-01-01 00:00:00", "insert", 2),
      ev("b", 0, "b0", "2025-01-01 00:00:00", "insert", 3)), 0L)
    cat("mrgcat", base)

    import spark.implicits._
    Seq(
      ("a", 0, "user", "a0'", null: String, ts("2025-01-01 01:00:00"), 10L),
      ("z", 9, "user", "z9", null: String, ts("2025-01-01 01:00:00"), 11L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")
      .createOrReplaceTempView("src")

    spark.sql("""MERGE INTO mrgcat.convs t USING src s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")

    val out = spark.sql("SELECT conv_id, turn_idx, text FROM mrgcat.convs ORDER BY conv_id, turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(out == Seq(("a", 0, "a0'"), ("a", 1, "a1"), ("b", 0, "b0"), ("z", 9, "z9")))
    // engine reads agree with SQL reads (the commit is a real snapshot)
    assert(t.read(spark).count() == 4)
    // the NOT-MATCHED insert physically landed in ITS key's bucket: the
    // bucket-pruned point lookup (which opens only that bucket) finds it
    assert(t.lookupTurn(spark, "z", 9).collect()
      .map(_.getAs[String]("text")).toSeq == Seq("z9"))
    assert(t.lookupTurn(spark, "a", 0).collect()
      .map(_.getAs[String]("text")).toSeq == Seq("a0'"))
  }

  test("self-MERGE via inline subquery over the target table") {
    // NOTE: the source must be an inline subquery (or a non-V2 relation); a
    // TEMP VIEW over a DSv2 catalog table is stored as a lazy
    // V2TableReference that Spark does not re-resolve inside MERGE
    // ("No plan for TableReference" at planning) — a Spark-side resolution
    // gap, not an engine one. The inline form is what Bench measures.
    val base = tmpDir("rlo-self")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, Seq(
      ev("a", 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev("b", 0, "b0", "2025-01-01 00:00:00", "insert", 2)), 0L)
    cat("selfcat", base)
    spark.sql("""MERGE INTO selfcat.convs t USING (
        SELECT conv_id, turn_idx, role, concat('m', text) AS text, tool, ts,
               seq + 100 AS seq
        FROM selfcat.convs WHERE conv_id = 'a') s
      ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val out = spark.sql("SELECT conv_id, text FROM selfcat.convs ORDER BY conv_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("a", "ma0"), ("b", "b0")))
  }

  test("MERGE preserves replaced buckets' tombstones: stale insert stays dead after a rewrite") {
    val base = tmpDir("rlo-tomb")
    val t = new LakeTable(s"$base/convs", numBuckets = 2)
    apply(t, Seq(
      ev("k", 0, "live", "2025-01-01 00:00:00", "insert", 1),
      ev("k", 1, "gone", "2025-01-01 00:00:00", "insert", 2)), 0L)
    apply(t, Seq(ev("k", 1, null, "2025-01-01 00:10:00", "delete", 3)), 1L)
    cat("tmbcat", base)

    // rewrite EVERY bucket (unconditional update) — the worst case for
    // tombstone survival
    spark.sql("UPDATE tmbcat.convs SET role = 'assistant'")
    assert(spark.sql("SELECT * FROM tmbcat.convs").count() == 1)

    // an out-of-order CDC insert carrying a PRE-delete version must still
    // lose: the rewrite carried the tombstone forward as a delta
    apply(t, Seq(ev("k", 1, "resurrect?", "2025-01-01 00:05:00", "insert", 9)), 2L)
    assert(t.read(spark).filter(col("turn_idx") === 1).count() == 0,
      "group rewrite dropped the tombstone: stale insert resurrected a deleted turn")
    // and a genuinely newer event still wins over the carried tombstone
    apply(t, Seq(ev("k", 1, "new era", "2025-01-01 00:20:00", "insert", 10)), 3L)
    assert(t.read(spark).filter(col("turn_idx") === 1)
      .collect().map(_.getAs[String]("text")).toSeq == Seq("new era"))
  }

  test("DELETE with a subquery routes through the row-level rewrite") {
    val base = tmpDir("rlo-del")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, (0 until 10).map(i =>
      ev(s"c$i", 0, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    cat("sdcat", base)
    import spark.implicits._
    Seq("c3", "c7").toDF("victim").createOrReplaceTempView("victims")

    spark.sql("DELETE FROM sdcat.convs WHERE conv_id IN (SELECT victim FROM victims)")
    def left() = spark.sql("SELECT conv_id FROM sdcat.convs").collect().map(_.getString(0)).toSet
    val all = (0 until 10).map(i => s"c$i").toSet
    assert(left() == all -- Set("c3", "c7"))
    // a replay of the victim's original insert stays deleted; a strictly
    // newer event still wins
    apply(t, Seq(
      ev("c3", 0, "t3", "2025-01-01 00:00:00", "insert", 3L),
      ev("c7", 0, "back", "2025-01-01 00:10:00", "insert", 100L)), 1L)
    assert(left() == all - "c3")
    // what kept c3 deleted is the tombstone a translatable DELETE writes:
    // the row's own ts at seq + 1
    assert(t.readRaw(spark).filter(col("op") === Model.OpDelete)
      .select("conv_id", "seq").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq ==
      Seq("c3" -> 4L))
  }

  test("OCC: the rewrite commit lands as a real snapshot next to engine commits") {
    val base = tmpDir("rlo-occ")
    val t = new LakeTable(s"$base/convs", numBuckets = 2)
    apply(t, Seq(
      ev("k", 0, "v0", "2025-01-01 00:00:00", "insert", 1),
      ev("q", 7, "w0", "2025-01-01 00:00:00", "insert", 2)), 0L)
    require(t.bucketFor("k", 0) != t.bucketFor("q", 7), "fixture needs distinct buckets")
    cat("occat", base)

    spark.sql("UPDATE occat.convs SET role = 'assistant' WHERE conv_id = 'k' AND turn_idx = 0")
    assert(spark.sql("SELECT role FROM occat.convs WHERE conv_id='k'")
      .collect().head.getString(0) == "assistant")
    assert(spark.sql("SELECT role FROM occat.convs WHERE conv_id='q'")
      .collect().head.getString(0) == "user")
    // the ledger carries both writers and the rewrite bumped exactly one version
    val snap = t.currentSnapshot().get
    assert(snap.version == 2 && snap.committed.keySet == Set("w", "sql-rlo"))
    // a later engine apply interleaves fine with the rewritten table
    apply(t, Seq(ev("k", 0, "v1", "2025-01-01 00:30:00", "update", 9)), 1L)
    assert(t.read(spark).filter(col("conv_id") === "k")
      .collect().map(_.getAs[String]("text")).toSeq == Seq("v1"))
  }
}

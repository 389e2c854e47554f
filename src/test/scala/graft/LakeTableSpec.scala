package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.sql.Timestamp

class LakeTableSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  test("time travel: read(asOfVersion) returns historical state") {
    val table = new LakeTable(tmpDir("tt"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "v1", "2025-01-01 00:00:00", 1))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "v2", "2025-01-01 00:01:00", 2),
      ev("c2", 0, "x", "2025-01-01 00:01:01", 3))).toDF(), "w", 1L)
    assert(table.versions() == Seq(1L, 2L))
    val v1 = table.read(spark, asOfVersion = Some(1L)).collect()
    assert(v1.length == 1 && v1.head.getAs[String]("text") == "v1")
    val v2 = table.read(spark).collect()
    assert(v2.length == 2)
    assert(v2.find(_.getAs[String]("conv_id") == "c1").get.getAs[String]("text") == "v2")
    intercept[IllegalArgumentException](table.read(spark, Some(99L)).collect())
  }

  test("vacuum: expires old snapshots, removes unreferenced + orphan files, keeps current state") {
    val table = new LakeTable(tmpDir("vac"), numBuckets = 4)
    (0 until 3).foreach { i =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
        ev("c1", 0, s"v$i", f"2025-01-01 00:0$i%d:00", i.toLong))).toDF(), "w", i.toLong)
    }
    // plant an orphan (crashed half-written commit dir, never committed)
    val orphan = table.attemptDir(99, "crashed", 7)
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-orphan.parquet"), "junk")
    // plant torn meta writes (crash between temp write and atomic rename)
    val meta = java.nio.file.Paths.get(table.root, "meta")
    val tornMan = meta.resolve(".tmp-man-000000000099-1.json")
    val tornSnap = meta.resolve(".tmp-snap-99-1.json")
    java.nio.file.Files.writeString(tornMan, "{}")
    java.nio.file.Files.writeString(tornSnap, "{}")

    val before = table.read(spark).collect().map(_.getAs[String]("text")).toSeq
    // default grace window: fresh unreferenced files are spared — they may
    // belong to an IN-FLIGHT commit of a live writer
    assert(table.vacuum(keepLast = 1) == 0)
    assert(java.nio.file.Files.exists(orphan.resolve("part-orphan.parquet")))
    assert(java.nio.file.Files.exists(tornMan))
    // grace 0 (no live writer): everything unreferenced goes
    val deleted = table.vacuum(keepLast = 1, graceMs = 0L)
    assert(deleted > 0)
    assert(table.versions() == Seq(3L))
    assert(!java.nio.file.Files.exists(orphan.resolve("part-orphan.parquet")))
    // the emptied orphan dir itself goes too (no age guard on empty dirs —
    // deleting its file just refreshed its mtime)
    assert(!java.nio.file.Files.exists(orphan))
    assert(!java.nio.file.Files.exists(tornMan) && !java.nio.file.Files.exists(tornSnap))
    val after = table.read(spark).collect().map(_.getAs[String]("text")).toSeq
    assert(after == before && after == Seq("v2"))
    // table still writable after vacuum
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c2", 1, "post", "2025-01-01 01:00:00", 50))).toDF(), "w", 3L)
    assert(table.read(spark).count() == 2)
  }

  test("version hint: stale or corrupt hints still resolve the newest snapshot") {
    val table = new LakeTable(tmpDir("hint"), numBuckets = 4)
    (0 until 3).foreach { i =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
        ev("c1", i, s"v$i", f"2025-01-01 00:0$i%d:00", i.toLong))).toDF(), "w", i.toLong)
    }
    val hint = java.nio.file.Paths.get(table.root, "meta", "version-hint.text")
    assert(java.nio.file.Files.readString(hint).trim == "3")
    // stale hint (simulates crash between snapshot publish and hint write):
    // resolution probes forward to the true newest
    java.nio.file.Files.writeString(hint, "1")
    assert(table.currentSnapshot().get.version == 3L)
    // corrupt hint falls back to the listing
    java.nio.file.Files.writeString(hint, "not-a-number")
    assert(table.currentSnapshot().get.version == 3L)
    // missing hint falls back to the listing
    java.nio.file.Files.delete(hint)
    assert(table.currentSnapshot().get.version == 3L)
  }

  test("corrupted newest snapshot is detected loudly (no silent fallback)") {
    val table = new LakeTable(tmpDir("corrupt"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "ok", "2025-01-01 00:00:00", 1))).toDF(), "w", 0L)
    val snap = java.nio.file.Paths.get(table.root, "meta", "snap-000000000001.json")
    java.nio.file.Files.writeString(snap, "{ not json")
    intercept[Exception](table.currentSnapshot())
  }
}

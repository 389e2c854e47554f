package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.{FileEntry, LakeTable}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Token-bloom text search: the opt-in text-index compaction writes a
  * per-file bloom over whitespace-split `text` tokens, and
  * `LakeTable.searchText` answers exact-token queries reading only the
  * buckets/files that can hold the token. Also pins the new compaction
  * FileStats (compacted files were previously stat-less) and their
  * task-reported row counts.
  */
class TextSearchSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def allEntries(t: LakeTable): Seq[FileEntry] =
    t.resolveFiles(t.currentSnapshot().get).values.flatten.toSeq

  private def fullScanSearch(t: LakeTable, token: String): Set[(String, Int)] =
    t.read(spark).filter(array_contains(split(col("text"), "\\s+"), token))
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet

  private def searched(t: LakeTable, token: String): Set[(String, Int)] =
    t.searchText(spark, token)
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet

  test("indexed compaction: every file carries a token bloom; search == full scan") {
    val t = new LakeTable(tmpDir("ts-idx"), numBuckets = 4)
    val rows = (0 until 40).map(i =>
      ev(s"c$i", i % 4, s"alpha token$i shared", "2025-01-01 10:00:00", i.toLong)) :+
      ev("needleconv", 0, "the rare needle word", "2025-01-01 11:00:00", 1000L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(rows).toDF(), "w", 0L, mode = "mor")
    MergeApplier.compactRetainTombstones(spark, t, textIndex = true)
    val entries = allEntries(t)
    assert(entries.nonEmpty && entries.forall(_.stats.exists(_.textBloom.nonEmpty)),
      s"every compacted file must carry a token bloom: $entries")
    // compaction stats also close the old stat-less gap: bounds + conv bloom
    assert(entries.forall(_.stats.exists(_.bloom.nonEmpty)))
    // task-reported row counts match the physical files exactly
    val snap = t.currentSnapshot().get
    assert(snap.bucketRows == t.footerRowCounts(t.resolveFiles(snap)))

    assert(searched(t, "needle") == Set(("needleconv", 0)))
    assert(searched(t, "alpha").size == 40)
    assert(searched(t, "token7") == fullScanSearch(t, "token7"))
    assert(searched(t, "absent-token").isEmpty)
    // no-false-negative sweep over every token in the corpus
    (0 until 40).foreach { i =>
      assert(searched(t, s"token$i") == Set((s"c$i", i % 4)), s"token$i")
    }
  }

  test("physical skip: non-admitting files deleted from disk, search still exact") {
    val t = new LakeTable(tmpDir("ts-skip"), numBuckets = 8)
    val rows = (0 until 80).map(i =>
      ev(s"c$i", i % 4, s"common w$i", "2025-01-01 10:00:00", i.toLong)) :+
      ev("nc", 1, "xyzzy alone", "2025-01-01 11:00:00", 2000L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(rows).toDF(), "w", 0L, mode = "mor")
    MergeApplier.compactRetainTombstones(spark, t, textIndex = true)
    val (admit, skip) = allEntries(t)
      .partition(_.stats.exists(_.mightContainToken("xyzzy")))
    assert(skip.nonEmpty, "most buckets must be skippable for the rare token")
    skip.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(searched(t, "xyzzy") == Set(("nc", 1)))
    assert(admit.nonEmpty)
  }

  test("MOR soundness: bucket-granular skip folds deltas; superseded text never matches") {
    val t = new LakeTable(tmpDir("ts-mor"), numBuckets = 2)
    // v1 of the key contains the needle; v2 (newer, in a later delta that
    // does NOT admit the token) replaces it — a file-granular skip on the
    // delta-carrying snapshot would drop the delta and wrongly resurrect v1
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("k", 0, "needle early", "2025-01-01 10:00:00", 1L),
      ev("other", 1, "plain text", "2025-01-01 10:00:00", 2L))).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("k", 0, "replaced clean", "2025-01-02 10:00:00", 3L))).toDF(), "w", 1L, mode = "mor")
    assert(t.currentSnapshot().get.morDeltas)
    assert(searched(t, "needle").isEmpty, "superseded version must not match")
    assert(searched(t, "replaced") == Set(("k", 0)))
    // deleted rows never match either
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("other", 1, null, "2025-01-03 10:00:00", 4L, op = "delete"))).toDF(), "w", 2L, mode = "mor")
    assert(searched(t, "plain").isEmpty, "tombstoned row must not match")
  }

  test("un-indexed files always admit: search correct before any text-index pass") {
    val t = new LakeTable(tmpDir("ts-noidx"), numBuckets = 2)
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("a", 0, "hay stack", "2025-01-01 10:00:00", 1L),
      ev("b", 1, "needle here", "2025-01-01 10:00:00", 2L))).toDF(), "w", 0L)
    assert(searched(t, "needle") == Set(("b", 1)))
    // plain (non-indexed) compaction: still correct, blooms absent
    MergeApplier.compactRetainTombstones(spark, t)
    assert(allEntries(t).forall(_.stats.exists(_.textBloom.isEmpty)))
    assert(searched(t, "needle") == Set(("b", 1)))
  }
}

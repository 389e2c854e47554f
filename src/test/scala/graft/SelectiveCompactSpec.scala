package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.LakeTable

import java.sql.Timestamp

/** Selective (per-bucket) compaction: the maintenance unit that holds at
  * scale. A skewed tail drives deltas into a few hot buckets; folding them
  * must rewrite O(target buckets), not O(table). These cases pin (a) the
  * untouched buckets' files are BYTE-IDENTICAL (same paths — nothing was
  * rewritten), (b) state equals the oracle fold afterwards, (c) depth
  * drops to zero exactly on the targets, (d) a target whose rows all
  * expired ends up empty, (e) a full-covering target set takes the
  * list-resetting branch, and (f) the streaming policy compacts only
  * delta-deep buckets.
  */
class SelectiveCompactSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, op: String, seq: Long) =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  private def filesOf(t: LakeTable): Map[Int, Seq[String]] =
    t.resolveFiles(t.currentSnapshot().get).view.mapValues(_.map(_.path)).toMap

  test("partial compaction rewrites only the target buckets; oracle state holds") {
    val all = Generator.events(spark, 4000, numConvs = 20, turnsPerConv = 5, seed = 101)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val table = new LakeTable(tmpDir("selc"), numBuckets = 8)
    all.sortBy(_.seq).grouped(1000).zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(chunk).toDF(), "w", i.toLong, mode = "mor")
    }
    val before = filesOf(table)
    val snap0 = table.currentSnapshot().get
    val depths0 = table.deltaDepths(snap0)
    assert(depths0.values.max == 4, s"4 delta commits expected: $depths0")
    val targets = Set(0, 3, 5)
    val written = MergeApplier.compactBucketsRetainTombstones(spark, table, targets)
    assert(written > 0)
    val snap1 = table.currentSnapshot().get
    val after = filesOf(table)
    // (a) untouched buckets: identical file paths — nothing rewritten
    (0 until 8).filterNot(targets).foreach { b =>
      assert(after(b) == before(b), s"bucket $b was rewritten by a partial pass")
    }
    // (c) depth zero exactly on the targets; others keep their deltas
    val depths1 = table.deltaDepths(snap1)
    targets.foreach(b => assert(!depths1.contains(b), s"bucket $b still delta-deep"))
    (0 until 8).filterNot(targets).foreach(b => assert(depths1(b) == 4))
    assert(snap1.morDeltas, "non-target deltas remain: snapshot must still fold")
    // targets now hold exactly one compacted (key-clustered) file each
    targets.foreach(b => assert(after(b).size == 1, s"bucket $b: ${after(b)}"))
    // (b) semantic state unchanged
    assert(finalState(table) == oracle)
    // ledger untouched — the writer resumes where it left off
    assert(snap1.maxBatchId("w") == 3L)
    // lineage: per-bucket stored rows match the physical files on targets
    targets.foreach { b =>
      val cnt = spark.read.parquet(after(b): _*).count()
      assert(snap1.bucketRows(b) == cnt, s"bucket $b lineage drifted")
    }
  }

  test("a target bucket whose rows all fold away ends up empty, not stale") {
    val table = new LakeTable(tmpDir("selc-empty"), numBuckets = 2)
    // find two keys landing in different buckets
    val k0 = (0 until 64).map(i => ("c" + i, 0)).find(k => table.bucketFor(k._1, k._2) == 0).get
    val k1 = (0 until 64).map(i => ("c" + i, 0)).find(k => table.bucketFor(k._1, k._2) == 1).get
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev(k0._1, 0, "dead", "2020-01-01 00:00:00", "insert", 1),
      ev(k1._1, 0, "alive", "2020-01-01 00:00:00", "insert", 2))).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev(k0._1, 0, null, "2020-01-02 00:00:00", "delete", 3))).toDF(), "w", 1L, mode = "mor")
    // expire the tombstone during the partial pass (explicit watermark path)
    val written = MergeApplier.compact(spark, table,
      Timestamp.valueOf("2021-01-01 00:00:00"))
    // full compact here folds both buckets; now do the PARTIAL variant on a
    // fresh delta landing only in bucket 0 and assert bucket 1 is untouched
    val before = filesOf(table)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev(k0._1, 0, "back", "2020-02-01 00:00:00", "insert", 4))).toDF(), "w", 2L, mode = "mor")
    MergeApplier.compactBucketsRetainTombstones(spark, table, Set(0))
    val after = filesOf(table)
    assert(after(1) == before(1), "bucket 1 rewritten by a bucket-0 pass")
    assert(finalState(table) ==
      Map((k0._1, 0) -> (("back", 4L)), (k1._1, 0) -> (("alive", 2L))))
    assert(written >= 1)
  }

  test("a full-covering target set takes the list-resetting branch") {
    val table = new LakeTable(tmpDir("selc-full"), numBuckets = 4)
    (0 until 3).foreach { i =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(
        (0 until 16).map(j => ev(s"c$j", 0, s"v$i", "2020-01-01 00:00:00", "insert",
          i * 100L + j))).toDF(), "w", i.toLong, mode = "mor")
    }
    MergeApplier.compactBucketsRetainTombstones(spark, table, (0 until 4).toSet)
    val snap = table.currentSnapshot().get
    assert(snap.manifests.size == 1 && !snap.morDeltas,
      s"full-covering targets must reset the manifest list: ${snap.manifests}")
  }

  test("targets without files are a no-op (no orphan version)") {
    val table = new LakeTable(tmpDir("selc-noop"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("only", 0, "v", "2020-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L, mode = "mor")
    val b = table.bucketFor("only", 0)
    val v = table.currentSnapshot().get.version
    val empty = (0 until 4).toSet - b
    assert(MergeApplier.compactBucketsRetainTombstones(spark, table, empty) == 0L)
    assert(table.currentSnapshot().get.version == v, "no-op must not commit")
  }

  test("streaming policy folds only delta-deep buckets on a skewed tail") {
    val table = new LakeTable(tmpDir("selc-stream"), numBuckets = 8)
    val dir = tmpDir("selc-stream-src")
    // skew: every chunk hits the SAME single conversation (one hot bucket
    // per turn key) plus one cold key that appears once
    def chunk(name: String, events: Seq[ChangeEvent]): Unit = {
      val tmp = tmpDir(s"selc-stream-$name")
      spark.createDataset(events).toDF().coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    chunk("c0", Seq(
      ev("hot", 0, "h0", "2020-01-01 00:00:00", "insert", 1),
      ev("cold", 0, "c0", "2020-01-01 00:00:00", "insert", 2)))
    (1 to 3).foreach(i => chunk(s"c$i", Seq(
      ev("hot", 0, s"h$i", "2020-01-01 00:00:00", "insert", 10L + i))))
    CdcStream.runAvailableNow(spark, dir, table, tmpDir("selc-stream-ckpt"),
      maxFilesPerTrigger = 1, mode = "mor", autoCompactEvery = 2)
    val snap = table.currentSnapshot().get
    // hot bucket got folded at least once; depth everywhere is < 2 + the
    // one delta a trailing batch may add
    val depths = table.deltaDepths(snap)
    assert(depths.values.forall(_ <= 2), s"policy failed to bound depth: $depths")
    assert(snap.metrics.contains("compactedRows") ||
      table.versions().flatMap(table.snapshotAt).exists(_.metrics.contains("compactedRows")),
      "no compaction ran on a depth-2 tail")
    assert(finalState(table) ==
      Map(("hot", 0) -> (("h3", 13L)), ("cold", 0) -> (("c0", 2L))))
  }
}

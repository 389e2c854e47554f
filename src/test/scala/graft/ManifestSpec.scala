package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.{FileEntry, LakeTable, ManifestRef, Snapshot}

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Manifest-list metadata layering: the snapshot JSON must stay O(buckets +
  * manifests) regardless of how many data files the table accumulates, so
  * commit metadata work is O(touched buckets) — the property that keeps the
  * commit path driver-light at 10^5–10^6 files (Iceberg's manifest-list
  * design, re-derived; the reference's manifest bookkeeping is
  * full-etl.asl.json:604-614's scheduled→processed move, which likewise never
  * rewrites prior manifests).
  */
class ManifestSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def metaFiles(table: LakeTable, prefix: String): Seq[java.nio.file.Path] = {
    val dir = Paths.get(table.root, "meta")
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq
    } finally s.close()
  }

  test("snapshot JSON holds no data-file paths; one manifest per commit; resolution matches reads") {
    val table = new LakeTable(tmpDir("man-basic"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a", "2025-01-01 00:00:00", 1),
      ev("c2", 0, "b", "2025-01-01 00:00:01", 2))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a2", "2025-01-01 00:00:02", 3))).toDF(), "w", 1L, mode = "mor")
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c3", 0, "c", "2025-01-01 00:00:03", 4))).toDF(), "w", 2L)

    val snapJson = Files.readString(
      metaFiles(table, "snap-").maxBy(_.getFileName.toString))
    assert(!snapJson.contains(".parquet"),
      "snapshot must reference manifests, never data files")
    assert(metaFiles(table, "man-").size == 3, "exactly one manifest per commit")

    // every bucket is owned by exactly ONE non-delta ref (COW masking)
    val snap = table.currentSnapshot().get
    val owners = snap.manifests.filterNot(_.delta).flatMap(_.buckets)
    assert(owners.distinct == owners, s"bucket owned twice: $snap")

    // resolution equals what readers actually see
    val resolved = table.resolveFiles(snap)
    assert(resolved.values.flatten.toSet ==
      snap.manifests.flatMap(r => table.readManifest(r.path)
        .view.filterKeys(r.buckets).values.flatten).toSet)
    val st = table.read(spark).collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[String]("text")).toMap
    assert(st == Map("c1" -> "a2", "c2" -> "b", "c3" -> "c"))
  }

  test("10^4-file table: commit writes O(touched) metadata, prior manifests untouched") {
    val table = new LakeTable(tmpDir("man-big"), numBuckets = 64)
    // Fabricate a big table's metadata: 10,000 data-file paths in one base
    // manifest (contents never read — the MOR apply path reads no target).
    val fakeFiles: Map[Int, Seq[FileEntry]] = (0 until 64).map { b =>
      b -> (0 until 157).map(i => FileEntry(
        s"${table.root}/data/c1-seed-0/bucket=$b/part-$i.parquet", 1024L))
    }.toMap
    assert(fakeFiles.values.map(_.size).sum > 10000)
    val basePath = table.writeManifest(1L, fakeFiles)
    table.commit(Snapshot(1L, Model.changeEventSchema.json, 64,
      Seq(ManifestRef(basePath, fakeFiles.keySet, delta = false)),
      Map("seed" -> 0L), fakeFiles.map { case (b, fs) => b -> fs.size.toLong },
      Map.empty, 0L))
    val baseBytes = Files.size(Paths.get(basePath))
    val manifestsBefore = metaFiles(table, "man-").map(p =>
      p.toString -> Files.getLastModifiedTime(p)).toMap

    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c9", 3, "tiny", "2025-01-01 00:00:00", 99))).toDF(), "w", 1L, mode = "mor")

    val snapPath = metaFiles(table, "snap-").maxBy(_.getFileName.toString)
    assert(Files.size(snapPath) < 16 * 1024,
      s"snapshot JSON grew with table file count: ${Files.size(snapPath)} bytes")
    // exactly one new manifest; the 10^4-entry base manifest byte-identical
    val manifestsAfter = metaFiles(table, "man-")
    assert(manifestsAfter.size == manifestsBefore.size + 1)
    assert(Files.size(Paths.get(basePath)) == baseBytes)
    manifestsAfter.filter(p => manifestsBefore.contains(p.toString)).foreach { p =>
      assert(Files.getLastModifiedTime(p) == manifestsBefore(p.toString)) }
    // untouched buckets still resolve to the fabricated files, via the mask
    val snap = table.currentSnapshot().get
    val untouched = (0 until 64).toSet --
      snap.manifests.filter(_.delta).flatMap(_.buckets)
    val b = untouched.head
    assert(table.resolveFiles(snap, Some(Set(b)))(b) == fakeFiles(b))
  }

  test("crash between manifest write and snapshot commit leaves the table intact; vacuum sweeps the orphan") {
    val table = new LakeTable(tmpDir("man-crash"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "committed", "2025-01-01 00:00:00", 1))).toDF(), "w", 0L)
    val v1 = table.currentSnapshot().get.version
    // simulate the crash window: a manifest (and data) written for v2, but
    // the snapshot publish never happened — the manifest is unreachable
    table.writeManifest(2L, Map(0 -> Seq(FileEntry("/nonexistent/part.parquet", 1L))))
    assert(table.currentSnapshot().get.version == v1)
    assert(table.read(spark).collect().map(_.getAs[String]("text")).toSeq == Seq("committed"))
    // retry of the batch proceeds normally (ledger governs, not the orphan)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c2", 0, "next", "2025-01-01 00:01:00", 2))).toDF(), "w", 1L)
    assert(table.read(spark).count() == 2)
    table.vacuum(keepLast = 1, graceMs = 0L) // grace 0: no live writer here
    val live = table.currentSnapshot().get.manifests.map(_.path).toSet
    assert(metaFiles(table, "man-").map(_.toString).toSet == live,
      "orphan manifest must be swept")
    assert(table.read(spark).count() == 2)
  }

  test("vacuum sweeps manifests no kept snapshot references") {
    val table = new LakeTable(tmpDir("man-vac"), numBuckets = 4)
    (0 until 3).foreach { i =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
        ev("c1", 0, s"v$i", f"2025-01-01 00:0$i%d:00", i.toLong))).toDF(), "w", i.toLong)
    }
    assert(metaFiles(table, "man-").size == 3)
    table.vacuum(keepLast = 1, graceMs = 0L) // grace 0: no live writer here
    val live = table.currentSnapshot().get.manifests.map(_.path).toSet
    assert(metaFiles(table, "man-").map(_.toString).toSet == live)
    assert(table.read(spark).collect().map(_.getAs[String]("text")).toSeq == Seq("v2"))
  }
}

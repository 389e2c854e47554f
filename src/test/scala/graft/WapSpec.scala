package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable

import java.sql.Timestamp

/** Named refs: immutable TAGS (vacuum-protected time travel) and
  * write-audit-publish STAGED commits (the full merge runs and is readable
  * for audit, but invisible to every reader until an O(metadata) publish
  * CAS; droppable without trace; vacuum pins staged files until then).
  */
class WapSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def batch(prefix: String, n: Int, seq0: Long, text: String = ""): Seq[ChangeEvent] =
    (0 until n).map(i => ev(s"$prefix$i", 0,
      if (text.isEmpty) s"$prefix$i" else text, "2025-01-01 10:00:00", seq0 + i))

  private def state(df: org.apache.spark.sql.DataFrame): Map[(String, Int), String] =
    df.collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
      r.getAs[String]("text")).toMap

  private def apply1(t: LakeTable, evs: Seq[ChangeEvent], w: String, b: Long): Unit =
    MergeApplier.applyBatch(spark, t, spark.createDataset(evs).toDF(), w, b)

  test("tags: immutable named versions; read-at-tag == time travel; drop") {
    val t = new LakeTable(tmpDir("wap-tags"), numBuckets = 4)
    apply1(t, batch("a", 4, 0), "w", 0L)
    val v1 = t.currentSnapshot().get.version
    apply1(t, Seq(ev("a0", 0, "updated", "2025-01-02 10:00:00", 100)), "w", 1L)
    t.tag("release-1", v1)
    assert(t.tags() == Map("release-1" -> v1))
    assert(state(t.readTagged(spark, "release-1")) ==
      state(t.read(spark, asOfVersion = Some(v1))))
    assert(state(t.readTagged(spark, "release-1"))(("a0", 0)) == "a0")
    intercept[IllegalStateException] { t.tag("release-1", v1) } // immutable
    intercept[IllegalArgumentException] { t.tag("nope", 999L) } // no such version
    t.dropTag("release-1")
    assert(t.tags().isEmpty)
    intercept[IllegalArgumentException] { t.readTag("release-1") }
  }

  test("vacuum retains tagged snapshots and their files; dropping the tag releases them") {
    val t = new LakeTable(tmpDir("wap-tag-vacuum"), numBuckets = 2)
    apply1(t, batch("a", 4, 0), "w", 0L)
    val v1 = t.currentSnapshot().get.version
    t.tag("keep", v1)
    // COW-rewrite the same keys repeatedly: v1's files become historical
    apply1(t, batch("a", 4, 100, text = "v2"), "w", 1L)
    apply1(t, batch("a", 4, 200, text = "v3"), "w", 2L)
    t.vacuum(keepLast = 1, graceMs = 0L) // sweeps v2's superseded rewrite only
    // tagged v1 files must survive keepLast=1: still fully readable
    assert(state(t.readTagged(spark, "keep")) == batch("a", 4, 0)
      .map(e => (e.conv_id, e.turn_idx) -> e.text).toMap)
    t.dropTag("keep")
    assert(t.vacuum(keepLast = 1, graceMs = 0L) > 0,
      "dropping the tag must release v1's files to the sweep")
    intercept[Exception] { t.read(spark, asOfVersion = Some(v1)).collect() }
    // head unaffected
    assert(state(t.read(spark)).values.toSet == Set("v3"))
  }

  test("WAP: stage is invisible, audit sees the merged state, publish flips it in") {
    val t = new LakeTable(tmpDir("wap-basic"), numBuckets = 4)
    apply1(t, batch("a", 4, 0), "w", 0L)
    val preStage = state(t.read(spark))
    val name = MergeApplier.stageBatch(spark, t,
      spark.createDataset(Seq(
        ev("a0", 0, "audited-update", "2025-01-02 10:00:00", 100),
        ev("b0", 0, "audited-new", "2025-01-02 10:00:00", 101))).toDF(), "w", 1L).get
    // invisible: head unchanged, ledger unchanged
    assert(state(t.read(spark)) == preStage)
    assert(t.currentSnapshot().get.maxBatchId("w") == 0L)
    assert(t.stagedRefs() == Seq(name))
    // audit view = exactly what publish will serve
    val audited = state(t.readStaged(spark, name))
    assert(audited(("a0", 0)) == "audited-update" && audited(("b0", 0)) == "audited-new")
    assert(audited.size == preStage.size + 1)
    val pub = t.publishStaged(name)
    assert(state(t.read(spark)) == audited)
    assert(pub.maxBatchId("w") == 1L)
    assert(pub.metrics.contains("publishedFromStage"))
    assert(t.stagedRefs().isEmpty, "published staged ref must be dropped")
  }

  test("WAP: publish rebases over a disjoint concurrent commit; same-bucket conflict fails loudly") {
    val t = new LakeTable(tmpDir("wap-conflict"), numBuckets = 64)
    apply1(t, batch("a", 8, 0) ++ batch("z", 8, 50), "w", 0L)
    // stage an update to a0 (its buckets only)
    val name = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "staged", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L).get
    // disjoint concurrent commit (different key → almost surely different
    // bucket at 64 buckets; assert it truly is)
    val stagedBuckets = t.readStagedRef(name).touched
    assert(!stagedBuckets.contains(t.bucketFor("z0", 0)), "test setup: need disjoint buckets")
    apply1(t, Seq(ev("z0", 0, "concurrent", "2025-01-02 11:00:00", 200)), "other", 0L)
    val pub = t.publishStaged(name)
    val got = state(t.read(spark))
    assert(got(("a0", 0)) == "staged" && got(("z0", 0)) == "concurrent")
    assert(pub.metrics.contains("publishedFromStage"))

    // now a conflicting stage: concurrent commit touches the SAME key
    val name2 = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a1", 0, "staged2", "2025-01-02 12:00:00", 300))).toDF(), "w", 2L).get
    apply1(t, Seq(ev("a1", 0, "raced", "2025-01-02 12:30:00", 301)), "other", 1L)
    intercept[java.util.ConcurrentModificationException] { t.publishStaged(name2) }
    // audit decision: drop; the raced value stands
    t.dropStaged(name2)
    assert(state(t.read(spark))(("a1", 0)) == "raced")
  }

  test("WAP: exactly-once — staging an already-committed batch no-ops; double publish no-ops") {
    val t = new LakeTable(tmpDir("wap-once"), numBuckets = 4)
    apply1(t, batch("a", 4, 0), "w", 0L)
    assert(MergeApplier.stageBatch(spark, t,
      spark.createDataset(batch("a", 4, 0)).toDF(), "w", 0L).isEmpty,
      "ledger-committed batch must not stage")
    val name = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "once", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L).get
    t.publishStaged(name)
    val vAfter = t.currentSnapshot().get.version
    // a split-brain duplicate of the same (writer, batch) staged before the
    // publish: publishing it afterwards is a ledger no-op
    MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "dup", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L) match {
      case Some(dup) =>
        t.publishStaged(dup)
        assert(t.currentSnapshot().get.version == vAfter, "duplicate publish must commit nothing")
        assert(state(t.read(spark))(("a0", 0)) == "once")
      case None => () // also acceptable: ledger pre-check caught it
    }
  }

  test("vacuum pins staged files until published or dropped") {
    val t = new LakeTable(tmpDir("wap-vacuum"), numBuckets = 4)
    apply1(t, batch("a", 4, 0), "w", 0L)
    val name = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "pinned", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L).get
    t.vacuum(keepLast = 1, graceMs = 0L)
    // staged commit survives the sweep and still publishes + reads correctly
    t.publishStaged(name)
    assert(state(t.read(spark))(("a0", 0)) == "pinned")

    // a dropped stage's files are swept
    val name2 = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a1", 0, "doomed", "2025-01-02 10:00:00", 200))).toDF(), "w", 2L).get
    val stagedFiles = t.readManifest(t.readStagedRef(name2).manifest)
      .values.flatten.map(_.path).toSeq
    assert(stagedFiles.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    t.dropStaged(name2)
    t.vacuum(keepLast = 1, graceMs = 0L)
    assert(stagedFiles.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "dropped staged files must be swept")
    assert(state(t.read(spark)).get(("a1", 0)).contains("a1"), "head unaffected by the drop")
  }

  test("WAP on a cold (empty) table: stage the first commit, audit, publish") {
    val t = new LakeTable(tmpDir("wap-cold"), numBuckets = 4)
    val name = MergeApplier.stageBatch(spark, t,
      spark.createDataset(batch("a", 4, 0)).toDF(), "w", 0L).get
    assert(t.currentSnapshot().isEmpty, "cold stage publishes nothing")
    assert(state(t.readStaged(spark, name)).size == 4)
    t.publishStaged(name)
    assert(t.currentSnapshot().get.version == 1L)
    assert(state(t.read(spark)).size == 4)
  }

  test("WAP: publish over a vacuumed gap in the version log lands on the head") {
    // vacuum keeps tagged snapshots and the last K, so the version after a
    // staged base can be gone while the head is far past it: publish must
    // land on the head, not in the freed slot below it
    for ((label, tagged) <- Seq("tagged base" -> true, "empty base" -> false)) {
      val t = new LakeTable(tmpDir(s"wap-gap-$tagged"), numBuckets = 64)
      if (tagged) {
        apply1(t, batch("a", 4, 0), "w", 0L)
        t.tag("base", t.currentSnapshot().get.version)
      }
      val name = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
        ev("a0", 0, "staged", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L).get
      val baseVersion = t.readStagedRef(name).baseVersion
      val racers = Seq("z0", "z1")
      assert(racers.forall(c => !t.readStagedRef(name).touched.contains(t.bucketFor(c, 0))),
        s"$label: test setup needs buckets disjoint from the staged one")
      racers.zipWithIndex.foreach { case (c, i) =>
        apply1(t, Seq(ev(c, 0, "concurrent", "2025-01-02 11:00:00", 200 + i)), "other", i)
      }
      val head = t.currentSnapshot().get.version
      t.vacuum(keepLast = 1, graceMs = 0L)
      assert(t.snapshotAt(baseVersion + 1).isEmpty, s"$label: test setup needs a gap")
      val pub = t.publishStaged(name)
      assert(pub.version == head + 1 && t.currentSnapshot().get.version == pub.version,
        s"$label: publish must land on the head v$head, not below it")
      val got = state(t.read(spark))
      assert(got(("a0", 0)) == "staged", label)
      assert(racers.forall(c => got((c, 0)) == "concurrent"), label)
      assert(pub.metrics.get("rebasedFrom").contains(baseVersion + 1), label)
    }
  }

  test("WAP: audit and publish through a handle with another bucket count fail loudly") {
    val t = new LakeTable(tmpDir("wap-handle"), numBuckets = 4)
    apply1(t, batch("a", 4, 0), "w", 0L)
    val v = t.currentSnapshot().get.version
    val name = MergeApplier.stageBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "staged", "2025-01-02 10:00:00", 100))).toDF(), "w", 1L).get
    val wrong = new LakeTable(t.root, numBuckets = 8)
    intercept[IllegalArgumentException] { wrong.stagedSnapshot(name) }
    intercept[IllegalArgumentException] { wrong.publishStaged(name) }
    assert(t.currentSnapshot().get.version == v, "nothing may commit")
    assert(t.stagedRefs() == Seq(name), "the staged ref stays for a correct handle")
    assert(t.publishStaged(name).numBuckets == 4)
    assert(state(t.read(spark))(("a0", 0)) == "staged")
  }
}

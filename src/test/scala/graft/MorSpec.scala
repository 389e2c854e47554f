package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.LakeTable

import java.sql.Timestamp

class MorSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, op: String, seq: Long) =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  test("MOR golden: delta-append replay equals the oracle fold; compaction preserves it") {
    val all = Generator.events(spark, 6000, numConvs = 25, turnsPerConv = 6, seed = 77)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }

    val table = new LakeTable(tmpDir("mor-golden"), numBuckets = 8)
    all.sortBy(_.seq).grouped(1500).zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, table,
        spark.createDataset(chunk).toDF(), "t", i.toLong, mode = "mor")
    }
    assert(table.currentSnapshot().get.morDeltas)
    // stored rows > live keys: deltas keep superseded versions until compact
    assert(table.currentSnapshot().get.totalRows > oracle.size)
    assert(finalState(table) == oracle)

    MergeApplier.compact(spark, table, Timestamp.valueOf("2030-01-01 00:00:00"))
    assert(!table.currentSnapshot().get.morDeltas)
    assert(finalState(table) == oracle)
    assert(table.currentSnapshot().get.totalRows == oracle.size)
  }

  test("MOR lineage: write-side per-bucket counts match the delta files (no footer reads)") {
    // stored-row lineage now comes off the write's accumulator; it must agree
    // exactly with what actually landed in the parquet files
    // — on both batch sides (the default threshold applies these chunks on
    // the driver, -1 forces the exchange and the fold/write job), and each
    // commit stores exactly its chunk's rows: raw, unfolded
    val all = Generator.events(spark, 3000, numConvs = 10, turnsPerConv = 6, seed = 13)
      .as[ChangeEvent].collect().toSeq
    Seq("driver" -> None, "exchanged" -> Some("-1")).foreach { case (side, threshold) =>
      val table = new LakeTable(tmpDir(s"mor-lineage-$side"), numBuckets = 4)
      var stored = 0L
      all.sortBy(_.seq).grouped(1000).zipWithIndex.foreach { case (chunk, i) =>
        withConf("spark.sql.autoBroadcastJoinThreshold", threshold)(
          MergeApplier.applyBatch(spark, table,
            spark.createDataset(chunk).toDF(), "w", i.toLong, mode = "mor"))
        val s = table.currentSnapshot().get
        assert(s.bucketRows == table.footerRowCounts(table.resolveFiles(s)),
          s"$side: lineage drifted from files at commit ${i + 1}")
        assert(s.metrics("batchRows") == chunk.size.toLong)
        assert(s.metrics("deletes") == chunk.count(_.op == Model.OpDelete).toLong)
        assert(s.totalRows - stored == chunk.size.toLong,
          s"$side: commit ${i + 1} stored ${s.totalRows - stored} rows for a ${chunk.size}-row chunk")
        stored = s.totalRows
      }
    }
  }

  test("one unknown-mode error from every apply entry point; nothing lands") {
    val base = tmpDir("mode-unknown")
    val root = s"$base/convs"
    val table = new LakeTable(root, numBuckets = 4)
    def batch(turn: Int) = spark.createDataset(Seq(
      ev("c", turn, "a", "2025-01-01 00:00:00", "insert", 1))).toDF()
    MergeApplier.applyBatch(spark, table, batch(0), "w", 0L)
    spark.conf.set("spark.sql.catalog.modecat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.modecat.base", base)
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      .toArray.toSet
    val src = tmpDir("mode-unknown-src") + "/events"
    batch(1).write.parquet(src)
    val errors = Seq(
      intercept[IllegalArgumentException](
        MergeApplier.applyBatch(spark, table, batch(1), "w", 1L, mode = "x")),
      intercept[IllegalArgumentException](
        CdcStream.start(spark, src, table, tmpDir("mode-unknown-ck1"), mode = "x")),
      intercept[IllegalArgumentException](
        graft.streaming.Replicate.start(spark, root, table, tmpDir("mode-unknown-ck2"),
          mode = "x")),
      intercept[IllegalArgumentException](
        batch(1).drop("op").writeTo("modecat.convs").option("mode", "x").append()))
    assert(errors.map(_.getMessage).distinct == Seq("unknown write mode 'x' (cow|mor)"),
      errors.map(_.getMessage))
    assert(table.versions() == Seq(1L))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(root, "data")).toArray.toSet ==
      dataDirs)

    // the SQL/DSv2 path lowercases its mode option, as before
    batch(1).drop("op").writeTo("modecat.convs").option("mode", "MOR").append()
    assert(table.currentSnapshot().get.morDeltas)
  }

  test("MOR tombstone: stale insert after delete stays dead across deltas") {
    val table = new LakeTable(tmpDir("mor-tomb"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "v1", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, null, "2025-01-01 00:00:10", "delete", 2))).toDF(), "w", 1L, mode = "mor")
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "stale", "2025-01-01 00:00:05", "insert", 3))).toDF(), "w", 2L, mode = "mor")
    assert(table.read(spark).count() == 0)
    // compaction with a watermark BEFORE the delete keeps the tombstone
    MergeApplier.compact(spark, table, Timestamp.valueOf("2025-01-01 00:00:01"))
    assert(table.read(spark).count() == 0)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "fresh", "2025-01-01 00:00:20", "insert", 4))).toDF(), "w", 3L, mode = "mor")
    assert(finalState(table) == Map(("c1", 0) -> (("fresh", 4L))))
  }

  test("COW and MOR commits interleave freely (associative LWW)") {
    val table = new LakeTable(tmpDir("mor-mix"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "cow1", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "mor2", "2025-01-01 00:00:01", "insert", 2),
      ev("c2", 0, "x", "2025-01-01 00:00:02", "insert", 3))).toDF(), "w", 1L, mode = "mor")
    // a COW merge over a MOR-delta table must fold the deltas too
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c2", 0, "y", "2025-01-01 00:00:03", "insert", 4))).toDF(), "w", 2L)
    // read must not surface superseded versions from untouched-bucket deltas
    assert(table.read(spark).count() == 2)
    assert(finalState(table) ==
      Map(("c1", 0) -> (("mor2", 2L)), ("c2", 0) -> (("y", 4L))))
  }

  test("MOR delta-carrying read plans ZERO exchanges (bucket-local fold)") {
    val table = new LakeTable(tmpDir("mor-plan"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a", "2025-01-01 00:00:00", "insert", 1),
      ev("c2", 1, "b", "2025-01-01 00:00:01", "insert", 2))).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a2", "2025-01-01 00:00:02", "update", 3))).toDF(), "w", 1L, mode = "mor")
    assert(table.currentSnapshot().get.morDeltas)
    val plan = table.read(spark).queryExecution.executedPlan.toString
    // the read-side LWW fold runs inside each bucket's own scan task
    // (BucketLocal.readFolded) — no exchange at all, any delta depth
    val exchanges = "(?i)exchange".r.findAllIn(plan).size
    assert(exchanges == 0, s"expected 0 exchanges, got $exchanges:\n$plan")
  }

  test("time travel to a nonexistent version throws on a delta-carrying table too") {
    val table = new LakeTable(tmpDir("mor-tt"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L, mode = "mor")
    assert(table.currentSnapshot().get.morDeltas)
    // must NOT silently fall back to the current snapshot
    intercept[IllegalArgumentException](table.read(spark, Some(99L)))
  }

  test("auto-compaction: MOR tail folds deltas every K batches, state stays oracle-equal") {
    val dir = tmpDir("mor-auto")
    Generator.writeChangelog(spark, dir, 3000, numConvs = 15, turnsPerConv = 5,
      numFiles = 8, seed = 64)
    val table = new LakeTable(tmpDir("mor-auto-table"), numBuckets = 4)
    CdcStream.runAvailableNow(spark, dir, table, tmpDir("mor-auto-ckpt"),
      maxFilesPerTrigger = 2, mode = "mor", autoCompactEvery = 2)
    val snap = table.currentSnapshot().get
    // the policy bounds manifest-list growth: never more than K un-folded
    // delta refs survive a batch boundary
    assert(snap.manifests.count(_.delta) <= 2,
      s"deltas not folded: ${snap.manifests}")
    // compaction commits interleaved with batch commits, ledger intact
    assert(snap.maxBatchId("stream") == 3L)
    val all = Generator.events(spark, 3000, 15, 5, seed = 64)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)
  }

  test("auto-compaction retains every tombstone: a stale insert after compaction stays dead") {
    val table = new LakeTable(tmpDir("mor-auto-tomb"), numBuckets = 4)
    val dir = tmpDir("mor-auto-tomb-src")
    // ANCIENT delete (1850): any time-based compaction watermark would
    // expire it; the retain-all policy must not. The file source tails FLAT
    // files, so write each chunk via a temp dir and move the part file out.
    def chunk(name: String, events: Seq[ChangeEvent]): Unit = {
      val tmp = tmpDir(s"mor-auto-tomb-$name")
      spark.createDataset(events).toDF().coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    chunk("c0", Seq(
      ev("k", 0, "v1", "1850-01-01 00:00:00", "insert", 1),
      ev("k", 0, null, "1850-01-02 00:00:00", "delete", 2)))
    chunk("c1", Seq(
      ev("x", 1, "other", "2025-01-01 00:00:00", "insert", 3)))
    CdcStream.runAvailableNow(spark, dir, table, tmpDir("mor-auto-tomb-ckpt"),
      maxFilesPerTrigger = 1, mode = "mor", autoCompactEvery = 1)
    // compaction ran (deltas folded) but the ancient tombstone survived
    assert(table.currentSnapshot().get.manifests.count(_.delta) <= 1)
    assert(table.readRaw(spark).filter(org.apache.spark.sql.functions.col("op") === "delete")
      .count() == 1, "auto-compaction must not expire tombstones")
    // stale insert (older ts than the delete) for the deleted key loses
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("k", 0, "stale", "1850-01-01 12:00:00", "insert", 99))).toDF(), "late", 0L, mode = "mor")
    assert(finalState(table) == Map(("x", 1) -> (("other", 3L))))
  }

  test("MOR streaming tail with kill/resume equals oracle") {
    val dir = tmpDir("mor-stream")
    Generator.writeChangelog(spark, dir, 3000, numConvs = 15, turnsPerConv = 5,
      numFiles = 6, seed = 88)
    val table = new LakeTable(tmpDir("mor-stream-table"), numBuckets = 8)
    val ckpt = tmpDir("mor-stream-ckpt")
    CdcStream.runAvailableNow(spark, dir, table, ckpt, maxFilesPerTrigger = 2,
      mode = "mor")
    // replay from a fresh checkpoint: ledger swallows everything
    val v = table.currentSnapshot().get.version
    CdcStream.runAvailableNow(spark, dir, table, tmpDir("mor-ckpt2"),
      maxFilesPerTrigger = 2, mode = "mor")
    assert(table.currentSnapshot().get.version == v)
    val all = Generator.events(spark, 3000, 15, 5, seed = 88)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)
  }

  test("a COW rewrite of the only delta-carrying bucket clears morDeltas; reads match the oracle") {
    import graft.operators.ChangeFeed
    val table = new LakeTable(tmpDir("mor-cow-clears"), numBuckets = 4)
    def applyCow(evs: Seq[ChangeEvent], b: Long) =
      MergeApplier.applyBatch(spark, table, spark.createDataset(evs).toDF(), "w", b)
    val base = (0 until 12).map(i =>
      ev(s"c$i", 0, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong))
    applyCow(base, 0L)
    val v1 = table.currentSnapshot().get.version
    // one key: the MOR delta lands in one bucket, which the COW batch rewrites
    val delta = Seq(ev("c1", 0, "mor", "2025-01-01 00:01:00", "update", 100))
    MergeApplier.applyBatch(spark, table, spark.createDataset(delta).toDF(), "w", 1L, mode = "mor")
    assert(table.currentSnapshot().get.morDeltas)
    val cow = Seq(ev("c1", 0, "cow", "2025-01-01 00:02:00", "update", 101))
    applyCow(cow, 2L)
    val head = table.currentSnapshot().get
    assert(!head.manifests.exists(_.delta), "the rewrite must mask the bucket's delta ref")
    assert(!head.morDeltas, "no delta ref is left, so reads must not fold")

    val before = Generator.oracleFold(base)
    val oracle = Generator.oracleFold(base ++ delta ++ cow)
    assert(finalState(table) == oracle.map { case (k, e) => k -> ((e.text, e.seq)) })
    oracle.foreach { case ((c, t), e) =>
      assert(table.lookupTurn(spark, c, t).collect().map(_.getAs[String]("text")).toSeq ==
        Seq(e.text), s"lookupTurn($c, $t)")
    }
    val feed = ChangeFeed.changesBetween(spark, table, v1, head.version).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("change_type"), r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap
    val want = (before.keySet ++ oracle.keySet).flatMap { k =>
      (before.get(k), oracle.get(k)) match {
        case (None, Some(e)) => Some(k -> (("insert", e.text, e.seq)))
        case (Some(b), Some(e)) if b != e => Some(k -> (("update", e.text, e.seq)))
        case (Some(b), None) => Some(k -> (("delete", b.text, b.seq)))
        case _ => None
      }
    }.toMap
    assert(feed == want)
  }
}

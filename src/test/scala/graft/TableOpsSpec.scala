package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.graftbridge.DriverScan

import java.sql.Timestamp

class TableOpsSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long) =
    ChangeEvent(conv, turn, "user", text, None, ts(t), op, seq)

  private def state(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  /** The key's bucket, derived through the TABLE's own bucket expression —
    * independent of lookupTurn's driver-side murmur3 (pins their agreement).
    */
  private def bucketOf(table: LakeTable, conv: String, turn: Int): Int = {
    import spark.implicits._
    Seq((conv, turn)).toDF("conv_id", "turn_idx")
      .select(table.bucketCol.as("b")).head().getInt(0)
  }

  private def hideOtherBuckets(table: LakeTable, keep: Int): Unit =
    hideBucketsOutside(table, Set(keep))

  private def hideBucketsOutside(table: LakeTable, keep: Set[Int]): Unit = {
    val s = table.currentSnapshot().get
    table.resolveFiles(s).foreach { case (b, fs) =>
      if (!keep.contains(b)) fs.foreach { fe =>
        val p = java.nio.file.Paths.get(fe.path)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.move(p, p.resolveSibling(p.getFileName.toString + ".hidden"))
      }
    }
  }

  test("rollback: head serves the target state; ledger rolls back so replay converges") {
    val table = new LakeTable(tmpDir("ops-rollback"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "v1-a", "2025-01-01 00:00:00", "insert", 1),
      ev("c2", 0, "v1-b", "2025-01-01 00:00:01", "insert", 2))).toDF(), "w", 0L)
    val v1 = table.currentSnapshot().get.version
    val s1 = state(table)
    val batch2 = spark.createDataset(Seq(
      ev("c1", 0, "v2-a", "2025-01-01 00:01:00", "update", 3),
      ev("c3", 0, "v2-c", "2025-01-01 00:01:01", "insert", 4))).toDF()
    MergeApplier.applyBatch(spark, table, batch2, "w", 1L)
    val v2 = table.currentSnapshot().get.version
    val s2 = state(table)
    assert(s1 != s2)

    val rb = table.rollback(v1)
    assert(rb.version == v2 + 1 && rb.parentVersion == v2)
    assert(rb.metrics == Map("rollbackTo" -> v1))
    assert(state(table) == s1, "rolled-back head must serve the v1 state")
    // O(1) metadata: the rollback commit references v1's manifests verbatim
    assert(rb.manifests == table.snapshotAt(v1).get.manifests)

    // the LEDGER rolled back too: the writer's checkpoint replays batch 1
    // and the table accepts it again (not skipped), converging forward
    assert(rb.maxBatchId("w") == 0L)
    val r = MergeApplier.applyBatch(spark, table, batch2, "w", 1L)
    assert(!r.skipped)
    assert(state(table) == s2)

    // guards: future version and empty table
    intercept[IllegalArgumentException] { table.rollback(999L) }
    intercept[IllegalStateException] {
      new LakeTable(tmpDir("ops-rollback-empty"), 2).rollback(0L)
    }
  }

  test("rollback + vacuum: rolled-over files sweep; the restored head keeps reading") {
    val table = new LakeTable(tmpDir("ops-rb-vacuum"), numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "keep", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    val v1 = table.currentSnapshot().get.version
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "discard", "2025-01-01 00:01:00", "update", 2))).toDF(), "w", 1L)
    table.rollback(v1)
    // keepLast=1: only the rollback head survives; the discarded commit's
    // rewrite is unreferenced and sweeps, v1's files stay (referenced)
    val deleted = table.vacuum(keepLast = 1, graceMs = 0L)
    assert(deleted > 0)
    assert(state(table) == Map(("c1", 0) -> (("keep", 1L))))
  }

  test("vacuum rejects keepLast < 1: keeping zero snapshots would destroy the log") {
    val table = new LakeTable(tmpDir("ops-vacuum-zero"), numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "live", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    val e = intercept[IllegalArgumentException](table.vacuum(keepLast = 0, graceMs = 0L))
    assert(e.getMessage.contains("keepLast"))
    intercept[IllegalArgumentException](table.vacuum(keepLast = -3, graceMs = 0L))
    // the table survived the rejected calls intact
    assert(state(table) == Map(("c1", 0) -> (("live", 1L))))
  }

  test("lookupTurn: COW point read opens only the key's bucket; filters push to parquet") {
    val table = new LakeTable(tmpDir("ops-lookup"), numBuckets = 8)
    val base = (0 until 64).map(i =>
      ev(s"c$i", i % 4, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong))
    MergeApplier.applyBatch(spark, table, spark.createDataset(base).toDF(), "w", 0L)

    val row = table.lookupTurn(spark, "c5", 1).collect()
    assert(row.map(r => (r.getAs[String]("conv_id"), r.getAs[String]("text"))).toSeq ==
      Seq(("c5", "t5")))
    // Spark path (autoBroadcastJoinThreshold -1 turns the driver read off):
    // the key predicate reaches the parquet scan (row-group skipping on a
    // clustered table)
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    val plan = try table.lookupTurn(spark, "c5", 1).queryExecution.executedPlan.toString
      finally old.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(conv_id,c5)"), plan)

    // physical pruning: with every OTHER bucket's files gone, the lookup
    // still works — it never opens them
    hideOtherBuckets(table, bucketOf(table, "c5", 1))
    assert(table.lookupTurn(spark, "c5", 1).count() == 1)
    // a key that hashes elsewhere now fails (its bucket is hidden) — proving
    // the hidden files are genuinely required for other keys, i.e. the c5
    // success above was pruning, not luck
    val other = (0 until 64).map(i => (s"c$i", i % 4))
      .find { case (c, t) => bucketOf(table, c, t) != bucketOf(table, "c5", 1) }.get
    intercept[Exception] {
      table.lookupTurn(spark, other._1, other._2).collect()
    }
  }

  test("lookupTurn: driver path pushes the key predicate to parquet row-group filtering") {
    // one bucket, unique conv per row, small row groups: the key-ordered
    // file has many row groups and exactly one whose conv_id range admits
    // the key
    val table = new LakeTable(tmpDir("ops-lookup-rg"), numBuckets = 1)
    val base = (0 until 3000).map(i =>
      ev(f"k$i%05d", 0, s"text $i", "2025-01-01 00:00:00", "insert", i.toLong))
    spark.conf.set("parquet.block.size", "8192")
    try MergeApplier.applyBatch(spark, table, spark.createDataset(base).toDF(), "w", 0L)
    finally spark.conf.unset("parquet.block.size")
    val files = table.resolveFiles(table.currentSnapshot().get).values.flatten.toSeq
    assert(files.size == 1)
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head.path), spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups > 4, s"test needs several row groups, got $groups")
    val read = new java.util.concurrent.atomic.AtomicInteger()
    DriverScan.afterRowGroup = () => read.incrementAndGet()
    try {
      assert(table.lookupTurn(spark, "k01234", 0).collect().map(_.getAs[String]("text"))
        .toSeq == Seq("text 1234"))
      assert(read.get == 1, s"read ${read.get} of $groups row groups")
      read.set(0)
      assert(table.lookupConversation(spark, "k02345").collect().length == 1)
      assert(read.get == 1, s"read ${read.get} of $groups row groups")
    } finally DriverScan.afterRowGroup = () => ()
  }

  test("lookupTurn: MOR snapshot folds the one bucket; tombstoned key reads empty") {
    val table = new LakeTable(tmpDir("ops-lookup-mor"), numBuckets = 8)
    val base = (0 until 32).map(i =>
      ev(s"c$i", 0, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong))
    MergeApplier.applyBatch(spark, table, spark.createDataset(base).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c5", 0, "fresh", "2025-01-01 00:01:00", "update", 100),
      ev("c6", 0, null, "2025-01-01 00:01:01", "delete", 101))).toDF(), "w", 1L, mode = "mor")
    assert(table.currentSnapshot().get.morDeltas)
    val got = table.lookupTurn(spark, "c5", 0).collect()
    assert(got.map(_.getAs[String]("text")).toSeq == Seq("fresh"))
    assert(table.lookupTurn(spark, "c6", 0).count() == 0) // tombstoned
    assert(table.lookupTurn(spark, "nope", 3).count() == 0) // absent key
    // physical pruning on the folded path too
    hideOtherBuckets(table, bucketOf(table, "c5", 0))
    assert(table.lookupTurn(spark, "c5", 0).count() == 1)
  }

  test("lookupConversation: whole-conversation fetch opens only the conv's bucket set") {
    val table = new LakeTable(tmpDir("ops-conv-lookup"), numBuckets = 8)
    // 8 convs × 6 turns; then update one turn and tombstone another via MOR
    val base = for (c <- 0 until 8; t <- 0 until 6)
      yield ev(s"c$c", t, s"c$c-t$t", "2025-01-01 00:00:00", "insert", (c * 10 + t).toLong)
    MergeApplier.applyBatch(spark, table, spark.createDataset(base).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c3", 2, "updated", "2025-01-01 00:01:00", "update", 100),
      ev("c3", 5, null, "2025-01-01 00:01:01", "delete", 101))).toDF(), "w", 1L, mode = "mor")

    def convMap(c: String, bound: Int = 4096) =
      table.lookupConversation(spark, c, bound).collect()
        .map(r => r.getAs[Int]("turn_idx") -> r.getAs[String]("text")).toMap

    // MOR path: fold sees the update, tombstone excluded
    assert(convMap("c3") == Map(0 -> "c3-t0", 1 -> "c3-t1", 2 -> "updated",
      3 -> "c3-t3", 4 -> "c3-t4"))
    // the bound excludes turns at/after it by predicate (exact, not missed)
    assert(convMap("c3", 2) == Map(0 -> "c3-t0", 1 -> "c3-t1"))

    // compact to COW and prove PHYSICAL pruning: hide every file outside
    // c2's turn-derived bucket set — the fetch must not touch them
    MergeApplier.compactRetainTombstones(spark, table)
    val keep = (0 until 6).map(t => table.bucketFor("c2", t)).toSet
    assert(keep.size < 8, "test needs a non-saturating bucket set")
    hideBucketsOutside(table, keep)
    assert(convMap("c2", 6) ==
      (0 until 6).map(t => t -> s"c2-t$t").toMap)
    // sanity: a conv whose buckets are hidden genuinely needs them
    val other = (0 until 8).map(c => s"c$c")
      .find(c => !(0 until 6).map(t => table.bucketFor(c, t)).toSet.subsetOf(keep)).get
    intercept[Exception] { table.lookupConversation(spark, other, 6).collect() }
    // driver-side bucket derivation agrees with the engine's bucketCol
    (0 until 6).foreach(t => assert(table.bucketFor("c2", t) == bucketOf(table, "c2", t)))
  }

  test("rebucket: state (incl. tombstones) preserved; stale handles fail; ledger carries") {
    val dir = tmpDir("ops-rebucket")
    val t4 = new LakeTable(dir, numBuckets = 4)
    val base = (0 until 120).map(i =>
      ev(s"c$i", i % 6, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)) :+
      ev("c3", 3, null, "2025-01-01 00:01:00", "delete", 999) // live tombstone
    MergeApplier.applyBatch(spark, t4, spark.createDataset(base).toDF(), "w", 0L)
    val before = state(t4)
    val rawBefore = t4.readRaw(spark).count() // includes the tombstone

    val t16 = MergeApplier.rebucket(spark, t4, 16)
    assert(t16.numBuckets == 16)
    assert(LakeTable.open(dir).numBuckets == 16, "open() must resolve the new count")
    assert(state(t16) == before)
    assert(t16.readRaw(spark).count() == rawBefore, "tombstones must survive the rewrite")
    val s = t16.currentSnapshot().get
    // commitMs is the publish-time stamp every commit carries (time travel)
    assert(s.metrics - "commitMs" == Map("rebucketedFrom" -> 4L))
    assert(s.metrics.contains("commitMs"))
    assert(s.bucketRows.keySet.subsetOf((0 until 16).toSet) && s.bucketRows.size > 4)

    // the old handle's bucket function no longer matches the table — every
    // apply path must reject it rather than mis-bucket
    intercept[IllegalArgumentException] {
      MergeApplier.applyBatch(spark, t4, spark.createDataset(Seq(
        ev("x", 0, "y", "2025-01-01 00:02:00", "insert", 2000))).toDF(), "w", 1L)
    }
    // ... and so must the bucket-pruned point read (its bucket id derives
    // from the handle's count); full reads stay correct on a stale handle
    // because file resolution is snapshot-driven
    intercept[IllegalArgumentException] { t4.lookupTurn(spark, "c0", 0) }
    assert(state(t4) == state(t16))
    // the ledger carried over: the already-committed batchId is still deduped
    assert(MergeApplier.applyBatch(spark, t16,
      spark.createDataset(base).toDF(), "w", 0L).skipped)
    // and new work applies against the resized layout
    MergeApplier.applyBatch(spark, t16, spark.createDataset(Seq(
      ev("c0", 0, "updated", "2025-01-01 00:03:00", "update", 3000))).toDF(), "w", 1L)
    assert(state(t16)(("c0", 0)) == (("updated", 3000L)))

    // no-op resize returns a handle without a new commit
    val vNow = t16.currentSnapshot().get.version
    assert(MergeApplier.rebucket(spark, t16, 16).currentSnapshot().get.version == vNow)
  }

  test("rebucket folds MOR deltas into the resized layout") {
    val dir = tmpDir("ops-rebucket-mor")
    val t = new LakeTable(dir, numBuckets = 2)
    MergeApplier.applyBatch(spark, t, spark.createDataset((0 until 40).map(i =>
      ev(s"c$i", 0, s"a$i", "2025-01-01 00:00:00", "insert", i.toLong))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("c1", 0, "newer", "2025-01-01 00:01:00", "update", 100))).toDF(), "w", 1L, mode = "mor")
    assert(t.currentSnapshot().get.morDeltas)
    val before = state(t)
    val t8 = MergeApplier.rebucket(spark, t, 8)
    val s = t8.currentSnapshot().get
    assert(!s.morDeltas, "rebucket must fold deltas (rows land key-unique)")
    assert(state(t8) == before)
    assert(state(t8)(("c1", 0)) == (("newer", 100L)))
  }

  test("history: one row per retained snapshot with lineage metrics") {
    val table = new LakeTable(tmpDir("ops-history"), numBuckets = 2)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "a", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "b", "2025-01-01 00:01:00", "update", 2))).toDF(), "w", 1L, mode = "mor")
    table.rollback(1L)
    val h = table.history(spark).orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_.getAs[Long]("parent_version")).toSeq == Seq(0L, 1L, 2L))
    assert(h(1).getAs[Boolean]("mor_deltas"))
    assert(h(1).getAs[Int]("delta_manifests") == 1)
    assert(h(2).getAs[Map[String, Long]]("metrics") - "commitMs" == Map("rollbackTo" -> 1L))
    assert(h.map(_.getAs[Map[String, Long]]("committed")).last == Map("w" -> 0L))
  }

  test("compaction clusters each bucket by (conv_id, turn_idx); state is unchanged") {
    val table = new LakeTable(tmpDir("ops-cluster"), numBuckets = 4)
    // interleaved arrival: two batches whose keys alternate, so pre-compact
    // file order is NOT key order
    val b0 = (0 until 200).map(i =>
      ev(s"c${199 - i}", i % 5, s"a$i", "2025-01-01 00:00:00", "insert", i.toLong))
    val b1 = (0 until 200).map(i =>
      ev(s"c${i % 50}", 5 + i % 3, s"b$i", "2025-01-01 00:01:00", "insert", 1000L + i))
    MergeApplier.applyBatch(spark, table, spark.createDataset(b0).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, table, spark.createDataset(b1).toDF(), "w", 1L, mode = "mor")
    val before = state(table)
    MergeApplier.compactRetainTombstones(spark, table)
    assert(state(table) == before)

    val s = table.currentSnapshot().get
    assert(!s.morDeltas)
    table.resolveFiles(s).foreach { case (b, fs) =>
      fs.foreach { fe =>
        val keys = spark.read.parquet(fe.path)
          .select("conv_id", "turn_idx").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq
        assert(keys == keys.sortBy(identity),
          s"bucket $b file ${fe.path} is not key-clustered")
      }
    }
  }
}

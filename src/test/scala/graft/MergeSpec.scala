package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.{BucketFileWriter, LakeTable}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class MergeSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long, tool: Option[String] = None) =
    ChangeEvent(conv, turn, "user", text, tool, ts(t), op, seq)

  /** Both batch sides of an apply: the default threshold applies a
    * spec-sized batch on the driver, -1 forces the `repartition(N, key)`
    * exchange.
    */
  private val batchSides = Seq("driver" -> None, "exchanged" -> Some("-1"))
  private def withBatchSide[T](threshold: Option[String])(f: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", threshold)(f)

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  test("golden: batched replay equals the independent in-memory oracle fold") {
    val all = Generator.events(spark, 8000, numConvs = 30, turnsPerConv = 8, seed = 11)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all)
      .map { case (k, e) => k -> ((e.text, e.seq)) }

    batchSides.foreach { case (side, threshold) =>
      val table = new LakeTable(tmpDir(s"merge-golden-$side"), numBuckets = 8)
      // apply in 5 arrival-order batches
      val sorted = all.sortBy(_.seq)
      withBatchSide(threshold) {
        sorted.grouped(1600).zipWithIndex.foreach { case (chunk, i) =>
          val df = spark.createDataset(chunk).toDF()
          MergeApplier.applyBatch(spark, table, df, "t", i.toLong)
        }
      }
      assert(finalState(table) == oracle, side)
      // each bucket's file holds its winners in (conv_id, turn_idx) order
      table.resolveFiles(table.currentSnapshot().get).values.flatten.foreach { f =>
        val keys = spark.read.parquet(f.path).select("conv_id", "turn_idx").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq
        assert(keys == keys.sorted, s"$side: ${f.path} is not key-ordered")
      }
    }
  }

  test("idle trigger: empty batch commits no version, leaves no orphan dir") {
    val table = new LakeTable(tmpDir("merge-idle"), numBuckets = 4)
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 0, "x", "2025-01-01 00:00:00", Model.OpInsert, 1))).toDF(), "w", 0L)
    val before = table.versions()
    // an empty batch side has no partitions: the apply starts no job at all
    var r: MergeApplier.ApplyResult = null
    val plan = jobPlan {
      r = MergeApplier.applyBatch(spark, table,
        spark.createDataset(Seq.empty[ChangeEvent]).toDF(), "w", 1L)
    }
    assert(plan.jobs == 0, plan)
    assert(!r.skipped && r.batchRows == 0 && r.touchedBuckets == 0)
    assert(table.versions() == before)
    // same contract on the MOR path
    var rm: MergeApplier.ApplyResult = null
    val planMor = jobPlan {
      rm = MergeApplier.applyBatch(spark, table,
        spark.createDataset(Seq.empty[ChangeEvent]).toDF(), "w", 1L, mode = "mor")
    }
    assert(planMor.jobs == 0, planMor)
    assert(!rm.skipped && rm.batchRows == 0)
    assert(table.versions() == before)
    // the empty merge output dir was cleaned up, not left as an orphan
    val dataDir = java.nio.file.Paths.get(table.root, "data")
    val dirs = { val s = java.nio.file.Files.list(dataDir)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSet } finally s.close() }
    assert(dirs.size == 1) // only the v1 commit dir
    // and a real batch after the idle one still applies
    MergeApplier.applyBatch(spark, table, spark.createDataset(Seq(
      ev("c1", 1, "y", "2025-01-01 00:01:00", Model.OpInsert, 2))).toDF(), "w", 2L)
    assert(finalState(table).keySet == Set(("c1", 0), ("c1", 1)))
  }

  test("golden: out-of-order batch split converges to the same state") {
    val all = Generator.events(spark, 6000, numConvs = 25, turnsPerConv = 6, seed = 23)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }

    batchSides.foreach { case (side, threshold) =>
      val table = new LakeTable(tmpDir(s"merge-ooo-$side"), numBuckets = 8)
      // pathological order: batches sliced by ts DESC — every batch is "late"
      val sorted = all.sortBy(e => (-e.ts.getTime, -e.seq))
      withBatchSide(threshold) {
        sorted.grouped(1500).zipWithIndex.foreach { case (chunk, i) =>
          MergeApplier.applyBatch(spark, table, spark.createDataset(chunk).toDF(), "t", i.toLong)
        }
      }
      assert(finalState(table) == oracle, side)
    }
  }

  test("idempotence: re-applying a committed batchId is a no-op") {
    val table = new LakeTable(tmpDir("merge-idem"), numBuckets = 4)
    val b = spark.createDataset(Seq(
      ev("c1", 0, "hello", "2025-01-01 00:00:00", "insert", 1),
      ev("c1", 1, "world", "2025-01-01 00:00:01", "insert", 2))).toDF()
    val r1 = MergeApplier.applyBatch(spark, table, b, "w", 0L)
    assert(!r1.skipped && r1.batchRows == 2)
    val v1 = table.currentSnapshot().get.version
    val r2 = MergeApplier.applyBatch(spark, table, b, "w", 0L)
    assert(r2.skipped)
    assert(table.currentSnapshot().get.version == v1)
    assert(table.read(spark).count() == 2)
    // a different writer with the same batchId is NOT deduped (per-writer ledger)
    val r3 = MergeApplier.applyBatch(spark, table, b, "w2", 0L)
    assert(!r3.skipped)
    assert(table.read(spark).count() == 2) // same keys, LWW keeps one copy
  }

  test("tombstone: stale insert after delete does not resurrect the turn") {
    val table = new LakeTable(tmpDir("merge-tomb"), numBuckets = 4)
    val b0 = spark.createDataset(Seq(
      ev("c1", 0, "v1", "2025-01-01 00:00:00", "insert", 1))).toDF()
    MergeApplier.applyBatch(spark, table, b0, "w", 0L)
    val b1 = spark.createDataset(Seq(
      ev("c1", 0, null, "2025-01-01 00:00:10", "delete", 2))).toDF()
    MergeApplier.applyBatch(spark, table, b1, "w", 1L)
    assert(table.read(spark).count() == 0)
    // late batch carries an OLDER insert for the same key
    val b2 = spark.createDataset(Seq(
      ev("c1", 0, "stale", "2025-01-01 00:00:05", "insert", 3))).toDF()
    MergeApplier.applyBatch(spark, table, b2, "w", 2L)
    assert(table.read(spark).count() == 0, "stale insert must not resurrect")
    // a genuinely NEWER insert does revive the key
    val b3 = spark.createDataset(Seq(
      ev("c1", 0, "fresh", "2025-01-01 00:00:20", "insert", 4))).toDF()
    MergeApplier.applyBatch(spark, table, b3, "w", 3L)
    assert(finalState(table) == Map(("c1", 0) -> (("fresh", 4L))))
  }

  test("compaction drops old tombstones, preserves live rows") {
    val table = new LakeTable(tmpDir("merge-compact"), numBuckets = 4)
    val b = spark.createDataset(Seq(
      ev("c1", 0, "keep", "2025-01-01 00:00:00", "insert", 1),
      ev("c1", 1, null, "2025-01-01 00:00:00", "delete", 2))).toDF()
    MergeApplier.applyBatch(spark, table, b, "w", 0L)
    assert(table.readRaw(spark).count() == 2) // live + tombstone
    MergeApplier.compact(spark, table, ts("2025-06-01 00:00:00"))
    assert(table.readRaw(spark).count() == 1)
    assert(finalState(table) == Map(("c1", 0) -> (("keep", 1L))))
  }

  test("additive schema evolution: v1 events (no tool) then v2 events widen the table") {
    val table = new LakeTable(tmpDir("merge-evolve"), numBuckets = 4)
    val v1 = spark.createDataset(Seq(
      ev("c1", 0, "old", "2025-01-01 00:00:00", "insert", 1))).toDF().drop("tool")
    MergeApplier.applyBatch(spark, table, v1, "w", 0L)
    assert(!table.currentSnapshot().get.schema.fieldNames.contains("tool"))

    val v2 = spark.createDataset(Seq(
      ev("c2", 0, "new", "2025-01-01 00:00:01", "insert", 2, tool = Some("search")),
      ev("c2", 1, "new2", "2025-01-01 00:00:02", "insert", 3))).toDF()
    MergeApplier.applyBatch(spark, table, v2, "w", 1L)
    val out = table.read(spark)
    assert(out.schema.fieldNames.contains("tool"))
    val rows = out.collect().map(r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r.getAs[String]("tool")).toMap
    // old rows read back with null tool; new rows carry it
    assert(rows(("c1", 0)) == null)
    assert(rows(("c2", 0)) == "search")
    assert(rows(("c2", 1)) == null)
    // non-additive change (type flip) is rejected
    intercept[IllegalArgumentException] {
      Model.mergeSchemas(table.currentSnapshot().get.schema,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("turn_idx",
            org.apache.spark.sql.types.StringType))))
    }
  }

  test("late v1 batch (missing evolved column) after evolution aligns with nulls") {
    val table = new LakeTable(tmpDir("merge-late-v1"), numBuckets = 4)
    val v2 = spark.createDataset(Seq(
      ev("c1", 0, "new", "2025-01-01 00:00:00", "insert", 1, tool = Some("search")))).toDF()
    MergeApplier.applyBatch(spark, table, v2, "w", 0L)
    // a straggler writer still on the v1 schema (no tool column)
    val v1 = spark.createDataset(Seq(
      ev("c2", 0, "old", "2025-01-01 00:00:01", "insert", 2))).toDF().drop("tool")
    MergeApplier.applyBatch(spark, table, v1, "w", 1L)
    val rows = table.read(spark).collect().map(r =>
      r.getAs[String]("conv_id") -> r.getAs[String]("tool")).toMap
    assert(rows == Map("c1" -> "search", "c2" -> null))
  }

  test("mismatched bucket-count handle is rejected loudly") {
    val dir = tmpDir("merge-buckets")
    val t4 = new LakeTable(dir, numBuckets = 4)
    MergeApplier.applyBatch(spark, t4, spark.createDataset(Seq(
      ev("c1", 0, "x", "2025-01-01 00:00:00", "insert", 1))).toDF(), "w", 0L)
    val t8 = new LakeTable(dir, numBuckets = 8)
    intercept[IllegalArgumentException] {
      MergeApplier.applyBatch(spark, t8, spark.createDataset(Seq(
        ev("c1", 1, "y", "2025-01-01 00:00:01", "insert", 2))).toDF(), "w", 1L)
    }
  }

  test("alignment invariant: repartition(N, key) partition id equals bucketCol for every row") {
    // The bucket-local merge (MergeApplier.mergeBucket) reads bucket i's
    // target files in partition i of the batch side and writes its output
    // as bucket i = the partition id. That is sound ONLY if Spark's
    // HashPartitioning (murmur3, seed 42) equals pmod(hash(key), N) — this
    // test pins the invariant against any Spark-internals drift, for the
    // exchange and for the driver's split (MergeApplier.batchSide).
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val table = new LakeTable(tmpDir("merge-align"), numBuckets = 8)
    val df = spark.createDataset((0 until 5000).map(i =>
      ev(s"c${i % 311}", i % 29, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong))).toDF()
    val mismatched = df.repartition(table.numBuckets, col("conv_id"), col("turn_idx"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__bucket", table.bucketCol)
      .filter(col("__pid") =!= col("__bucket"))
      .count()
    assert(mismatched == 0L)
    val withBucket = df.withColumn("__bucket", table.bucketCol)
    val bucketI = withBucket.schema.fieldIndex("__bucket")
    batchSides.foreach { case (side, threshold) =>
      withBatchSide(threshold) {
        assert(org.apache.spark.sql.graftbridge.ScanBridge.copyable(withBucket) ==
          threshold.isEmpty, side)
        // per bucket i: (every row's bucketCol is i, row count)
        val rows = MergeApplier.batchSide(withBucket, table.numBuckets) match {
          case Left(slices) =>
            assert(threshold.isEmpty, side)
            slices.zipWithIndex.map { case (sl, i) =>
              (sl.forall(_.getInt(bucketI) == i), sl.length.toLong) }
          case Right(exchanged) =>
            assert(threshold.nonEmpty, side)
            exchanged.mapPartitionsWithIndex((i, it) => Iterator(it.map(r =>
              (r.getInt(bucketI) == i, 1L))
              .foldLeft((true, 0L)) { case ((ok, n), (o, c)) => (ok && o, n + c) }))
              .collect()
        }
        assert(rows.length == table.numBuckets, side)
        assert(rows.forall(_._1), s"$side: a row sits outside its bucket's partition")
        assert(rows.map(_._2).sum == 5000L, side)
      }
    }
  }

  test("flooded bucket: merge stays correct; numBuckets bounds the rewrite unit on a fresh table") {
    // Pathological skew: every key lands in ONE bucket (numBuckets = 1 is the
    // degenerate worst case — one bucket holds the whole table). The merge
    // contract is that a bucket is the COW rewrite unit and must be SIZED to
    // an executor via numBuckets; this pins (a) correctness under a flooded
    // bucket and (b) that a fresh table with more buckets shrinks the unit.
    val all = Generator.events(spark, 6000, numConvs = 12, turnsPerConv = 8, seed = 41)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val t1 = new LakeTable(tmpDir("skew-one"), numBuckets = 1)
    all.sortBy(_.seq).grouped(2000).zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, t1, spark.createDataset(chunk).toDF(), "w", i.toLong)
    }
    assert(finalState(t1) == oracle)
    val s1 = t1.currentSnapshot().get
    assert(s1.bucketRows.keySet == Set(0))
    // fresh table, 16 buckets: same state, rewrite unit ~1/16th the rows
    val t16 = new LakeTable(tmpDir("skew-sixteen"), numBuckets = 16)
    all.sortBy(_.seq).grouped(2000).zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, t16, spark.createDataset(chunk).toDF(), "w", i.toLong)
    }
    assert(finalState(t16) == oracle)
    val s16 = t16.currentSnapshot().get
    assert(s16.totalRows == s1.totalRows)
    val hottest = s16.bucketRows.values.max
    assert(hottest < s1.bucketRows(0) / 4,
      s"16 buckets did not shrink the rewrite unit: max $hottest vs ${s1.bucketRows(0)}")
    // lineage invariant under the flood: per-bucket counts match the files
    assert(s16.bucketRows == t16.footerRowCounts(t16.resolveFiles(s16)))
  }

  test("lineage: snapshot records per-bucket rows, metrics, and ledger") {
    val table = new LakeTable(tmpDir("merge-lineage"), numBuckets = 4)
    val b = spark.createDataset((0 until 100).map(i =>
      ev(s"c${i % 7}", i % 5, s"t$i", f"2025-01-01 00:${i % 60}%02d:00", "insert", i.toLong))).toDF()
    MergeApplier.applyBatch(spark, table, b, "w", 0L)
    val s = table.currentSnapshot().get
    assert(s.committed == Map("w" -> 0L))
    assert(s.totalRows == table.read(spark).count() + 0) // no tombstones here
    assert(s.bucketRows.values.sum == s.totalRows)
    assert(s.metrics("deletes") == 0L)
    assert(s.metrics("batchRows") > 0L)
  }

  test("commit metrics split every apply into batch side, fold/write and commit") {
    val all = Generator.events(spark, 3000, numConvs = 15, turnsPerConv = 6, seed = 67)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    val (first, second) = all.splitAt(1500)
    def df(events: Seq[ChangeEvent]) = spark.createDataset(events).toDF()
    val phases = Seq("batchSideMs", "foldWriteMs", "metaMs", "durationMs")
    batchSides.foreach { case (side, threshold) =>
      val cow = new LakeTable(tmpDir(s"merge-phases-cow-$side"), numBuckets = 4)
      val mor = new LakeTable(tmpDir(s"merge-phases-mor-$side"), numBuckets = 4)
      // a cold COW replay, a staged then published COW merge, a MOR append
      val plans = withBatchSide(threshold)(Seq(
        jobPlan(MergeApplier.applyBatch(spark, cow, df(first), "w", 0L)),
        jobPlan(cow.publishStaged(MergeApplier.stageBatch(spark, cow, df(second), "w", 1L).get)),
        jobPlan(MergeApplier.applyBatch(spark, mor, df(all), "m", 0L, mode = "mor"))))
      assert(plans.forall(p => (p.jobs == 0) == threshold.isEmpty), s"$side: $plans")
      val history = Seq(cow, mor).flatMap(_.history(spark).collect())
        .map(r => r.getAs[Long]("version") -> r.getMap[String, Long](8).toMap)
      assert(history.size == 3, s"$side: $history")
      history.foreach { case (v, m) =>
        assert(phases.forall(k => m.get(k).exists(_ >= 0L)), s"$side v$v: $m")
        assert(m("batchSideMs") + m("foldWriteMs") + m("metaMs") <= m("durationMs"),
          s"$side v$v: $m")
      }
    }
  }

  test("a fold/write task failing mid-file leaves the table as it was and no file of its own") {
    val all = Generator.events(spark, 4000, numConvs = 20, turnsPerConv = 6, seed = 53)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val table = new LakeTable(tmpDir("merge-fail"), numBuckets = 4)
    def dataFiles(t: LakeTable = table): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).filter(_.contains("/data/")).toSet } finally s.close()
    }
    // cold start (batch 0), then the hot merge (batch 1): each fails once in
    // one bucket's write right after it opened its file, then re-applies;
    // once per batch side, the driver side's table going on to the passes
    // below. The driver side fails and re-runs with no Spark job.
    def failingApplies(table: LakeTable, onDriver: Boolean): Unit = {
      all.grouped(2000).zipWithIndex.foreach { case (chunk, i) =>
        val victim = table.bucketFor(chunk.head.conv_id, chunk.head.turn_idx)
        val version = table.currentSnapshot().map(_.version)
        val state = if (version.isEmpty) Map.empty else finalState(table)
        val filesBefore = dataFiles(table)
        BucketFileWriter.afterBucketFileOpen =
          b => if (b == victim) throw new IllegalStateException(s"injected failure in bucket $b")
        val batch = spark.createDataset(chunk).toDF()
        var e: Exception = null
        val failed = jobPlan {
          e = try intercept[Exception] {
            MergeApplier.applyBatch(spark, table, batch, "w", i.toLong)
          } finally BucketFileWriter.afterBucketFileOpen = _ => ()
        }
        assert(e.getMessage.contains("injected failure"), e.getMessage)
        assert((failed.jobs == 0) == onDriver, failed)
        assert(table.currentSnapshot().map(_.version) == version)
        if (version.nonEmpty) assert(finalState(table) == state)
        val left = dataFiles(table) -- filesBefore
        assert(!left.exists(_.contains(s"/bucket=$victim/")),
          s"the failed task's file (bucket $victim) was left behind: $left")
        var r: MergeApplier.ApplyResult = null
        val rerun = jobPlan { r = MergeApplier.applyBatch(spark, table, batch, "w", i.toLong) }
        assert(!r.skipped && r.touchedBuckets > 0)
        assert((rerun.jobs == 0) == onDriver, rerun)
        // the re-run landed exactly once: one new version, its batch in the ledger
        assert(table.currentSnapshot().map(_.version) == Some(version.getOrElse(0L) + 1))
        assert(table.currentSnapshot().get.maxBatchId("w") == i.toLong)
      }
      assert(finalState(table) == oracle)
    }
    batchSides.foreach { case (side, threshold) =>
      withBatchSide(threshold)(failingApplies(
        if (threshold.isEmpty) table else new LakeTable(tmpDir(s"merge-fail-$side"), 4),
        onDriver = threshold.isEmpty))
    }

    // compaction (hash and spill, full and selective) and rebucket write
    // through the same task writer: each pass fails once in the victim
    // bucket's task right after it opened its file, then re-runs
    def failingOnce[T](t: LakeTable, victim: Int)(pass: => T): T = {
      val version = t.currentSnapshot().map(_.version)
      val state = finalState(t)
      val filesBefore = dataFiles()
      BucketFileWriter.afterBucketFileOpen =
        b => if (b == victim) throw new IllegalStateException(s"injected failure in bucket $b")
      val e = try intercept[Exception](pass) finally BucketFileWriter.afterBucketFileOpen = _ => ()
      assert(e.getMessage.contains("injected failure"), e.getMessage)
      assert(t.currentSnapshot().map(_.version) == version)
      assert(finalState(t) == state)
      val left = dataFiles() -- filesBefore
      assert(!left.exists(_.contains(s"/bucket=$victim/")),
        s"the failed task's file (bucket $victim) was left behind: $left")
      pass
    }
    val more = Generator.events(spark, 3200, numConvs = 20, turnsPerConv = 6, seed = 57,
      baseTs = "2025-02-01 00:00:00").as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    val passes: Seq[(String, Boolean, Int => Long)] = Seq(
      ("full hash", false, _ => MergeApplier.compactRetainTombstones(spark, table)),
      ("full spill", true, _ => MergeApplier.compactRetainTombstones(spark, table)),
      ("selective hash", false,
        v => MergeApplier.compactBucketsRetainTombstones(spark, table, Set(v))),
      ("selective spill", true,
        v => MergeApplier.compactBucketsRetainTombstones(spark, table, Set(v))))
    more.grouped(800).toSeq.zip(passes).zipWithIndex.foreach {
      case ((chunk, (name, spill, pass)), i) =>
        // a MOR delta per pass, so every pass folds deltas into its rewrite
        MergeApplier.applyBatch(spark, table, spark.createDataset(chunk).toDF(), "m", i.toLong, mode = "mor")
        val victim = table.bucketFor(chunk.head.conv_id, chunk.head.turn_idx)
        withSpillFoldBytes(if (spill) 0L else 2L << 30) {
          assert(failingOnce(table, victim)(pass(victim)) > 0L, name)
        }
        val want = Generator.oracleFold(all ++ more.take((i + 1) * 800))
          .map { case (k, e) => k -> ((e.text, e.seq)) }
        assert(finalState(table) == want, name)
    }
    val oracleAll = Generator.oracleFold(all ++ more).map { case (k, e) => k -> ((e.text, e.seq)) }
    val victim8 = new LakeTable(table.root, numBuckets = 8)
      .bucketFor(more.head.conv_id, more.head.turn_idx)
    val resized = failingOnce(table, victim8)(MergeApplier.rebucket(spark, table, 8))
    assert(resized.currentSnapshot().get.numBuckets == 8)
    assert(finalState(resized) == oracleAll)
  }

  test("the apply job reports output bytes and rows equal to what the commit references") {
    val all = Generator.events(spark, 3000, numConvs = 15, turnsPerConv = 6, seed = 61)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    // every apply's commit metrics hold what its manifest references; with
    // -1 the fold/write stage's task output metrics do too, while a driver
    // apply runs no stage at all
    var table: LakeTable = null
    batchSides.foreach { case (side, threshold) =>
      table = new LakeTable(tmpDir(s"merge-outmetrics-$side"), numBuckets = 4)
      all.grouped(1500).zipWithIndex.foreach { case (chunk, i) =>
        val plan = withBatchSide(threshold)(jobPlan(
          MergeApplier.applyBatch(spark, table, spark.createDataset(chunk).toDF(), "w", i.toLong)))
        val snap = table.currentSnapshot().get
        val written = table.readManifest(snap.manifests.last.path)
        val bytes = written.values.flatten.map(_.bytes).sum
        val rows = written.keySet.toSeq.map(snap.bucketRows).sum
        assert(bytes > 0 && snap.metrics("outputBytes") == bytes &&
          snap.metrics("outputRows") == rows, s"$side batch $i: ${snap.metrics} vs $written")
        if (threshold.isEmpty) assert(plan.jobs == 0, s"$side batch $i: $plan")
        else assert(plan.outputBytes == bytes && plan.outputRows == rows, s"$side batch $i: $plan")
      }
    }
    // compaction and rebucket write through the same task writer: the one
    // manifest their commit leaves holds exactly what the job reported
    def referencesReported(name: String, t: LakeTable, reported: SparkSpecBase.JobPlan): Unit = {
      val snap = t.currentSnapshot().get
      assert(snap.manifests.size == 1, name)
      val written = t.readManifest(snap.manifests.head.path)
      val files = written.values.flatten.toSeq
      assert(files.nonEmpty && reported.outputBytes == files.map(_.bytes).sum,
        s"$name: stage output bytes $reported vs manifest ${files.map(_.bytes)}")
      assert(reported.outputRows == written.keySet.toSeq.map(snap.bucketRows).sum, name)
      assert(snap.bucketRows == t.footerRowCounts(written), name)
    }
    val compacted = jobPlan(MergeApplier.compactRetainTombstones(spark, table))
    referencesReported("compact", table, compacted)
    var resized: LakeTable = null
    val rebucketed = jobPlan { resized = MergeApplier.rebucket(spark, table, 8) }
    referencesReported("rebucket", resized, rebucketed)
  }
}

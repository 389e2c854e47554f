package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** The DSv2 batch read connector (`format("lake")`): statistics, bucket
  * pruning, column pruning through the MOR fold, time travel.
  */
class LakeSourceSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)
  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long): ChangeEvent =
    ChangeEvent(conv, turn, "user", text, None, ts(t), op, seq)

  private def apply(table: LakeTable, batch: Seq[ChangeEvent], id: Long): Unit =
    MergeApplier.applyBatch(spark, table, spark.createDataset(batch).toDF(), "w", id)

  private def lake(root: String, opts: (String, String)*) = {
    val r = spark.read.format("lake").option("path", root)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  test("reads equal the programmatic read; time travel; op stays internal") {
    val root = tmpDir("lake-src")
    val table = new LakeTable(root, numBuckets = 4)
    apply(table, Seq(
      ev("cA", 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev("cB", 0, "b0", "2025-01-01 00:00:01", "insert", 2)), 0L)
    apply(table, Seq(
      ev("cA", 0, "a0'", "2025-01-01 00:01:00", "update", 3),
      ev("cB", 0, null, "2025-01-01 00:01:01", "delete", 4)), 1L)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(!lake(root).schema.fieldNames.contains("op"))
    assert(rows(lake(root)) == rows(table.read(spark)))
    assert(lake(root).count() == 1) // cB/0 tombstoned
    assert(rows(lake(root, "asOfVersion" -> "1")) ==
      rows(table.read(spark, asOfVersion = Some(1L))))
    intercept[Exception] { lake(root, "asOfVersion" -> "9").collect() }
  }

  test("reported statistics surface in the plan and enable an unhinted broadcast join") {
    val root = tmpDir("lake-stats")
    val table = new LakeTable(root, numBuckets = 4)
    apply(table, (0 until 50).map(i => ev(s"c$i", 0, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)

    val dim = lake(root)
    val stats = dim.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(50)), s"rowCount not reported: $stats")
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 10L * 1024 * 1024)

    // a fact frame large enough that broadcasting the DIMENSION is the only
    // sane plan; no broadcast() hint anywhere — the reported stats decide
    val fact = spark.range(0, 10000).select(
      concat(lit("c"), (col("id") % 50)).as("conv_id"), col("id"))
    val joined = fact.join(dim, Seq("conv_id"))
    // the PRE-AQE physical plan: only compile-time (reported) statistics can
    // have chosen a broadcast here — AQE's runtime conversion hasn't run yet
    assert(joined.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      s"expected an unhinted stats-driven broadcast join:\n${joined.queryExecution.sparkPlan}")
    assert(joined.count() == 10000)
  }

  test("key-equality filters prune to the exact bucket physically; conv-only does not prune") {
    val root = tmpDir("lake-prune")
    val table = new LakeTable(root, numBuckets = 8)
    apply(table, (0 until 40).map(i =>
      ev(s"c${i % 10}", i / 10, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)

    val hit = lake(root).filter(col("conv_id") === "c3" && col("turn_idx") === 2)
    val want = table.bucketFor("c3", 2)
    val descs = hit.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    assert(descs.exists(_.contains(s"buckets={$want}")),
      s"bucket pruning not visible in:\n${descs.mkString("\n")}")
    assert(hit.collect().map(_.getAs[String]("text")).toSeq == Seq(s"t${2 * 10 + 3}"))

    // physical proof: with every OTHER bucket's files gone from disk, the
    // pruned read still answers; an unpruned read of the same table fails
    val snap = table.currentSnapshot().get
    val keep = table.resolveFiles(snap, Some(Set(want))).values.flatten.map(_.path).toSet
    table.resolveFiles(snap).values.flatten.map(_.path).filterNot(keep)
      .foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(p)))
    assert(hit.collect().length == 1)
    intercept[Exception] { lake(root).collect() }
  }

  test("conv-only filters stay sound (no unsound pruning) and IN-lists prune to the set") {
    val root = tmpDir("lake-sound")
    val table = new LakeTable(root, numBuckets = 8)
    // a turn index far beyond any enumeration heuristic
    apply(table, Seq(
      ev("cX", 0, "t0", "2025-01-01 00:00:00", "insert", 1),
      ev("cX", 999999, "tBig", "2025-01-01 00:00:01", "insert", 2),
      ev("cY", 0, "y0", "2025-01-01 00:00:02", "insert", 3)), 0L)
    assert(lake(root).filter(col("conv_id") === "cX").count() == 2)

    val in = lake(root).filter(
      col("conv_id").isin("cX", "cY") && col("turn_idx").isin(0, 999999))
    // superset of the true buckets is fine; result must be exact
    assert(in.collect().map(_.getAs[String]("text")).sorted.toSeq == Seq("t0", "tBig", "y0"))
  }

  test("catalog: SQL reads, VERSION AS OF, listTables, and bucket-function parity") {
    val base = tmpDir("lake-cat")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, Seq(ev("c", 0, "v1", "2025-01-01 00:00:00", "insert", 1)), 0L)
    apply(t, Seq(ev("c", 0, "v2", "2025-01-01 00:01:00", "update", 2)), 1L)
    spark.conf.set("spark.sql.catalog.lakecat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lakecat.base", base)
    assert(spark.sql("SELECT text FROM lakecat.convs").collect().map(_.getString(0)).toSeq == Seq("v2"))
    assert(spark.sql("SELECT text FROM lakecat.convs VERSION AS OF 1")
      .collect().map(_.getString(0)).toSeq == Seq("v1"))
    // TIMESTAMP AS OF: resolves to the max commit-stamped version at-or-
    // before the ask — between the two commits it serves v1, now it serves
    // v2, before the first commit it fails loudly
    val s1 = t.snapshotAt(1).get.metrics("commitMs")
    val s2 = t.snapshotAt(2).get.metrics("commitMs")
    // format in UTC explicitly (the session tz) — JVM-default-tz rendering
    // would skew the literal on non-UTC hosts
    def atMs(ms: Long) = java.time.LocalDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      .toString.replace('T', ' ')
    assert(spark.sql(s"SELECT text FROM lakecat.convs TIMESTAMP AS OF '${atMs(s1)}'")
      .collect().map(_.getString(0)).toSeq == Seq(if (s2 > s1) "v1" else "v2"))
    assert(spark.sql(s"SELECT text FROM lakecat.convs TIMESTAMP AS OF '${atMs(s2 + 1000)}'")
      .collect().map(_.getString(0)).toSeq == Seq("v2"))
    val noSnap = intercept[Exception] {
      spark.sql(s"SELECT text FROM lakecat.convs TIMESTAMP AS OF '${atMs(s1 - 60000)}'")
        .collect()
    }
    assert(noSnap.getMessage.contains("not time-resolvable") ||
      Option(noSnap.getCause).exists(_.getMessage.contains("not time-resolvable")))
    assert(spark.sql("SHOW TABLES IN lakecat").collect().map(_.getString(1)).toSeq == Seq("convs"))
    // the $history metadata table: the commit log over SQL
    val hist = spark.sql(
      "SELECT version, total_rows, mor_deltas FROM lakecat.`convs$history` ORDER BY version")
      .collect()
    assert(hist.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((1L, 1L, false), (2L, 1L, false)))
    // the $files metadata table: the current snapshot's file inventory
    val files = spark.sql(
      "SELECT bucket, path, bytes FROM lakecat.`convs$files`").collect()
    assert(files.nonEmpty && files.forall(r =>
      r.getLong(2) > 0 && r.getString(1).endsWith(".parquet")))
    // the V2 bucket function must agree bit-for-bit with the layout hash
    val rnd = new scala.util.Random(7)
    (0 until 200).foreach { _ =>
      val conv = rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
      val turn = rnd.nextInt(1 << 20)
      val viaFn = graft.table.BucketConvTurn.invoke(
        4, org.apache.spark.unsafe.types.UTF8String.fromString(conv), turn)
      assert(viaFn == t.bucketFor(conv, turn), s"bucket drift for ($conv, $turn)")
    }
  }

  test("storage-partitioned join: same-layout tables join with zero shuffle") {
    val base = tmpDir("lake-spj")
    val facts = new LakeTable(s"$base/facts", numBuckets = 8)
    val labels = new LakeTable(s"$base/labels", numBuckets = 8)
    apply(facts, (0 until 60).map(i =>
      ev(s"c${i % 12}", i / 12, s"f$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    apply(labels, (0 until 36).map(i =>
      ev(s"c${i % 12}", i / 12, s"l$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)

    spark.conf.set("spark.sql.catalog.spjcat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.base", base)
    val oldBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val oldBroadcast = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the join to plan, not broadcast
    try {
      val j = spark.table("spjcat.facts").select("conv_id", "turn_idx", "text")
        .join(spark.table("spjcat.labels")
          .select(col("conv_id"), col("turn_idx"), col("text").as("label")),
          Seq("conv_id", "turn_idx"))
      val plan = j.queryExecution.sparkPlan
      assert(!plan.toString.contains("Exchange"),
        s"storage-partitioned join still shuffles:\n$plan")
      // correctness: equals the plain (shuffled) programmatic join
      val expect = facts.read(spark).select("conv_id", "turn_idx", "text")
        .join(labels.read(spark)
          .select(col("conv_id"), col("turn_idx"), col("text").as("label")),
          Seq("conv_id", "turn_idx"))
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
      assert(j.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) == expect)
      assert(expect.size == 36)
    } finally {
      oldBucketing.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      oldBroadcast.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("runtime filtering prunes buckets at execution time (sound rule, intersection with static)") {
    val root = tmpDir("lake-rtf")
    val table = new LakeTable(root, numBuckets = 8)
    apply(table, (0 until 40).map(i =>
      ev(s"c${i % 10}", i / 10, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{In => SIn}
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[SupportsRuntimeFiltering]

    // this is the exact call path Spark's dynamic partition pruning drives:
    // filterAttributes names the prunable columns, filter() delivers the
    // build side's key values, partition re-planning happens after
    val rf = scanOf(lake(root))
    assert(rf.filterAttributes().map(_.describe()).toSeq == Seq("conv_id", "turn_idx"))
    assert(rf.toBatch.planInputPartitions().length == 8)
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("conv_id", Array("c3", "c7")), SIn("turn_idx", Array(2))))
    val pruned = rf.toBatch.planInputPartitions()
    val want = Set(table.bucketFor("c3", 2), table.bucketFor("c7", 2))
    assert(pruned.length == want.size)
    // conv-only runtime filters must NOT prune (same soundness rule as the
    // static path — the bucket hashes the full key)
    val rf2 = scanOf(lake(root))
    rf2.filter(Array[org.apache.spark.sql.sources.Filter](SIn("conv_id", Array("c3"))))
    assert(rf2.toBatch.planInputPartitions().length == 8)
    // runtime ∩ static: a statically-pruned scan narrows further at runtime
    val rf3 = scanOf(lake(root).filter(
      col("conv_id").isin("c3", "c7") && col("turn_idx") === 2))
    rf3.filter(Array[org.apache.spark.sql.sources.Filter](
      SIn("conv_id", Array("c3")), SIn("turn_idx", Array(2))))
    assert(rf3.toBatch.planInputPartitions().length == 1)
  }

  test("SQL INSERT routes through the CDC merge: LWW upsert, exactly-once replay, OVERWRITE rejected") {
    val base = tmpDir("lake-ins")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, Seq(ev("c", 0, "old", "2025-01-01 00:00:00", "insert", 1)), 0L)
    spark.conf.set("spark.sql.catalog.inscat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.inscat.base", base)
    def text() = spark.sql("SELECT text FROM inscat.convs WHERE conv_id='c' AND turn_idx=0")
      .collect().map(_.getString(0)).toSeq

    // a plain INSERT with a newer (ts, seq) is an upsert: it REPLACES the row
    spark.sql("INSERT INTO inscat.convs VALUES " +
      "('c', 0, 'user', 'new', NULL, TIMESTAMP '2025-01-01 00:02:00', 10)")
    assert(text() == Seq("new"))
    // an INSERT carrying an OLDER (ts, seq) loses LWW — no duplicate, no downgrade
    spark.sql("INSERT INTO inscat.convs VALUES " +
      "('c', 0, 'user', 'stale', NULL, TIMESTAMP '2025-01-01 00:01:00', 5)")
    assert(text() == Seq("new"))
    assert(spark.sql("SELECT * FROM inscat.convs").count() == 1)

    // writerId+batchId = the ledger contract: an exact replay is a no-op
    import spark.implicits._
    val batch = Seq(("c", 1, "user", "turn1", null: String,
      ts("2025-01-01 00:03:00"), 11L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")
    val versionsBefore = t.currentSnapshot().get.version
    batch.writeTo("inscat.convs").option("writerId", "w2").option("batchId", "0").append()
    assert(t.currentSnapshot().get.version == versionsBefore + 1)
    batch.writeTo("inscat.convs").option("writerId", "w2").option("batchId", "0").append()
    assert(t.currentSnapshot().get.version == versionsBefore + 1, "replay must no-op")
    assert(spark.sql("SELECT * FROM inscat.convs").count() == 2)

    // mode=mor appends a delta instead of rewriting the bucket
    batch.withColumn("turn_idx", lit(2)).writeTo("inscat.convs")
      .option("mode", "mor").append()
    assert(t.currentSnapshot().get.morDeltas)
    assert(spark.sql("SELECT * FROM inscat.convs").count() == 3)

    // INSERT OVERWRITE contradicts CDC semantics — rejected loudly
    val e = intercept[Exception] {
      spark.sql("INSERT OVERWRITE inscat.convs VALUES " +
        "('x', 0, 'user', 'boom', NULL, TIMESTAMP '2025-01-01 00:00:00', 99)")
    }
    assert(e.getMessage.contains("INSERT OVERWRITE") || e.getMessage.contains("unsupported"),
      s"unexpected error: ${e.getMessage}")
    // a time-travel handle is read-only: newWriteBuilder refuses the write
    // and no version lands
    val headBefore = t.currentSnapshot().get.version
    val tt = intercept[Exception] {
      batch.write.format("lake").option("path", s"$base/convs")
        .option("asOfVersion", "1").mode("append").save()
    }
    assert(tt.getMessage.contains("cannot write to a time-travel handle"),
      s"unexpected error: ${tt.getMessage}")
    assert(t.currentSnapshot().get.version == headBefore)
  }

  test("path append lands through the CDC merge once; a replay with the same ids is a no-op") {
    val base = tmpDir("lake-path-append")
    val root = s"$base/convs"
    val t = new LakeTable(root, numBuckets = 4)
    apply(t, Seq(ev("c", 0, "old", "2025-01-01 00:00:00", "insert", 1)), 0L)
    import spark.implicits._
    val batch = Seq(("c", 1, "user", "turn1", null: String, ts("2025-01-01 00:03:00"), 11L),
      ("d", 0, "user", "other", null: String, ts("2025-01-01 00:03:00"), 12L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")
    def append(): Unit = batch.write.format("lake").option("path", root)
      .option("writerId", "pw").option("batchId", "0").mode("append").save()
    def stored() = lake(root).select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val v0 = t.currentSnapshot().get.version

    append()
    val once = stored()
    assert(t.currentSnapshot().get.version == v0 + 1)
    assert(once == Seq(("c", 0, "old"), ("c", 1, "turn1"), ("d", 0, "other")))
    append()
    assert(t.currentSnapshot().get.version == v0 + 1, "replay must no-op")
    assert(stored() == once)
  }

  test("path writes in ErrorIfExists, Ignore and Overwrite mode, or to no table, fail and land no version") {
    val base = tmpDir("lake-path-modes")
    val root = s"$base/convs"
    val t = new LakeTable(root, numBuckets = 4)
    apply(t, Seq(ev("c", 0, "old", "2025-01-01 00:00:00", "insert", 1)), 0L)
    import spark.implicits._
    val batch = Seq(("c", 1, "user", "turn1", null: String, ts("2025-01-01 00:03:00"), 11L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")
    def failure(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): String =
      intercept[Exception](w.save()).getMessage
    def to(path: String) = batch.write.format("lake").option("path", path)
    val v0 = t.currentSnapshot().get.version

    // the default mode is ErrorIfExists
    for ((mode, w) <- Seq("default" -> to(root), "ignore" -> to(root).mode("ignore"))) {
      val msg = failure(w)
      assert(msg.contains("UNSUPPORTED_DATA_SOURCE_SAVE_MODE"), s"$mode: $msg")
    }
    val overwrite = failure(to(root).mode("overwrite"))
    assert(overwrite.contains("INSERT OVERWRITE is unsupported"), overwrite)
    assert(t.currentSnapshot().get.version == v0)
    assert(lake(root).count() == 1L)

    val bare = s"$base/bare"
    val noTable = failure(to(bare).mode("append"))
    assert(noTable.contains("has no committed snapshot"), noTable)
    assert(new LakeTable(bare, numBuckets = 4).currentSnapshot().isEmpty)
  }

  test("SQL DELETE = snapshot tombstones: key delete, predicate delete, LWW survival of newer writes") {
    val base = tmpDir("lake-del")
    val t = new LakeTable(s"$base/convs", numBuckets = 4)
    apply(t, (0 until 12).map(i =>
      ev(s"c${i % 3}", i / 3, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong)), 0L)
    spark.conf.set("spark.sql.catalog.delcat", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.delcat.base", base)

    // key-equality delete: one turn gone, the rest intact
    spark.sql("DELETE FROM delcat.convs WHERE conv_id = 'c1' AND turn_idx = 2")
    assert(spark.sql("SELECT * FROM delcat.convs").count() == 11)
    assert(spark.sql("SELECT * FROM delcat.convs WHERE conv_id='c1' AND turn_idx=2").count() == 0)
    // replayed DELETE is a no-op (tombstoned keys never match the scan)
    val v = t.currentSnapshot().get.version
    spark.sql("DELETE FROM delcat.convs WHERE conv_id = 'c1' AND turn_idx = 2")
    assert(spark.sql("SELECT * FROM delcat.convs").count() == 11)

    // non-key predicate delete works too (full scan, still a tombstone merge)
    spark.sql("DELETE FROM delcat.convs WHERE text LIKE 't1%' OR text = 't3'")
    // t1, t3, t10, t11 minus the already-deleted (c1, turn 2)=t7? no — t10/t11 match LIKE
    val left = spark.sql("SELECT text FROM delcat.convs").collect().map(_.getString(0)).toSet
    assert(!left.exists(s => s == "t1" || s == "t3" || s.startsWith("t1")), s"left=$left")

    // snapshot-delete stamp (ts, seq+1): it kills exactly the version it saw —
    // a replay of that version loses to the tombstone…
    apply(t, Seq(ev("c2", 1, "fresh", "2025-01-01 00:02:00", "update", 50L)), 200L)
    spark.sql("DELETE FROM delcat.convs WHERE conv_id = 'c2' AND turn_idx = 1")
    apply(t, Seq(ev("c2", 1, "fresh", "2025-01-01 00:02:00", "insert", 50L)), 201L)
    assert(spark.sql("SELECT * FROM delcat.convs WHERE conv_id='c2' AND turn_idx=1").count() == 0,
      "a replayed pre-delete version must not resurrect a SQL-deleted turn")
    // …while a STRICTLY newer CDC event outranks the snapshot tombstone (the
    // delete never silently kills data it did not see)
    apply(t, Seq(ev("c2", 1, "newer", "2025-01-01 00:05:00", "update", 60L)), 202L)
    assert(spark.sql("SELECT text FROM delcat.convs WHERE conv_id='c2' AND turn_idx=1")
      .collect().map(_.getString(0)).toSeq == Seq("newer"))
    assert(v > 0)
  }

  test("MOR snapshot: fold happens in-task and column pruning reaches the parquet read") {
    val root = tmpDir("lake-mor")
    val table = new LakeTable(root, numBuckets = 2)
    apply(table, Seq(
      ev("c", 0, "x", "2025-01-01 00:00:00", "insert", 1),
      ev("c", 1, "y", "2025-01-01 00:00:01", "insert", 2)), 0L)
    MergeApplier.applyBatch(spark, table,
      spark.createDataset(Seq(
        ev("c", 0, "x'", "2025-01-01 00:01:00", "update", 3),
        ev("c", 1, null, "2025-01-01 00:01:01", "delete", 4))).toDF(), "w", 1L, mode = "mor")
    assert(table.currentSnapshot().get.morDeltas)

    val pruned = lake(root).select("conv_id", "text")
    // DSv2 output after pruning is exactly the requested columns
    val leaves = pruned.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(_.output.map(_.name) == Seq("conv_id", "text")),
      s"not pruned: ${leaves.map(_.output.map(_.name))}")
    // fold resolved winners: c/0 updated, c/1 deleted
    assert(pruned.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("c", "x'")))
    // zero exchanges in the plan (bucket-local fold)
    assert(!pruned.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}

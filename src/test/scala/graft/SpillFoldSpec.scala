package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{BucketLocal, MergeApplier}
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame

import java.sql.Timestamp

/** The spill-safe (sort-based) fold: a bucket that outgrew its executor must
  * stay readable, compactable and rebucketable — the hash fold's memory
  * bound is one bucket's contents, the sort fold's is O(1) rows (the
  * sorter spills to disk). These tests pin (a) exact semantic equality
  * between the two folds through the one entry point (spill threshold 0 vs
  * the default), including tombstones and null-ts edge rows, (b) the policy
  * switch on the threshold, (c) the zero-exchange plan shape, and (d)
  * that compaction and rebucket run end-to-end through the spill path.
  */
class SpillFoldSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, op: String, seq: Long) =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def finalState(df: org.apache.spark.sql.DataFrame): Map[(String, Int), (String, Long)] =
    df.collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  private def buildMor(name: String, n: Int = 5000, buckets: Int = 8): (LakeTable, Map[(String, Int), (String, Long)]) = {
    val all = Generator.events(spark, n, numConvs = 20, turnsPerConv = 6, seed = 91)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val table = new LakeTable(tmpDir(name), numBuckets = buckets)
    all.sortBy(_.seq).grouped(1250).zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, table,
        spark.createDataset(chunk).toDF(), "t", i.toLong, mode = "mor")
    }
    assert(table.currentSnapshot().get.morDeltas)
    (table, oracle)
  }

  /** The head snapshot folded through the one entry point under a spill
    * threshold: 0 sends every bucket to the sort fold, the default none.
    */
  private def readFolded(table: LakeTable, spillFoldBytes: Long): DataFrame = {
    val snap = table.currentSnapshot().get
    withSpillFoldBytes(spillFoldBytes)(
      BucketLocal.readFolded(spark, snap, table.resolveFiles(snap)))
  }

  test("sort fold == hash fold == oracle on a delta-carrying table") {
    val (table, oracle) = buildMor("spill-eq")
    val hash = readFolded(table, 2L << 30)
    val sorted = readFolded(table, 0L)
    // identical winner SETS (op column included — tombstones must agree)
    val h = hash.collect().map(_.toSeq).toSet
    val s = sorted.collect().map(_.toSeq).toSet
    assert(h == s)
    // and the live view matches the in-memory oracle
    val live = sorted.filter(org.apache.spark.sql.functions.col("op") =!= Model.OpDelete)
    assert(finalState(live) == oracle)
  }

  test("spill fold keeps tombstones, including null-ts tombstones, exactly like the hash fold") {
    val table = new LakeTable(tmpDir("spill-tomb"), numBuckets = 4)
    val rows = Seq(
      ev("c1", 0, "hello", "2024-01-01 10:00:00", "insert", 1),
      ev("c1", 0, "bye", "2024-01-02 10:00:00", "delete", 2),
      ev("c2", 0, "keep", "2024-01-01 10:00:00", "insert", 3),
      // null-ts tombstone: UNKNOWN event time, ver() maps to Long.MinValue
      ChangeEvent("c3", 0, "user", "gone", None, null, "delete", 4),
      ev("c3", 0, "stale", "2024-01-01 10:00:00", "insert", 0))
    MergeApplier.applyBatch(spark, table, spark.createDataset(rows).toDF(), "t", 0L, mode = "mor")
    val h = readFolded(table, 2L << 30).collect().map(_.toSeq).toSet
    val s = readFolded(table, 0L).collect().map(_.toSeq).toSet
    assert(h == s)
    // c1 folded to its tombstone; c3's null-ts tombstone loses LWW to the
    // ts-bearing insert (null = lowest) — both folds must agree on that
    val live = finalState(table.read(spark))
    assert(live == Map(("c2", 0) -> (("keep", 3L)), ("c3", 0) -> (("stale", 0L))))
  }

  test("policy: spillFoldBytes = 0 routes read() through the sort fold, still zero shuffles") {
    val (table, oracle) = buildMor("spill-policy")
    // force: every bucket "exceeds" the executor budget
    val df = withSpillFoldBytes(0L)(table.read(spark))
    assert(BucketLocal.lastSpilled == (0 until 8).toSet,
      "spillFoldBytes = 0 must send every bucket to the sort fold")
    // zero-shuffle proof across the bridged inner plan: the full RDD lineage
    // (which includes the inner sort's execution RDDs) has no shuffle stage
    val debug = org.apache.spark.sql.graftbridge.ScanBridge.toInternalRdd(df).toDebugString
    assert(!debug.contains("ShuffledRowRDD"), s"spill fold must stay zero-shuffle:\n$debug")
    assert(finalState(df) == oracle)
    // default policy on healthy small buckets: hash fold
    withSpillFoldBytes(2L << 30)(table.read(spark))
    assert(BucketLocal.lastSpilled.isEmpty, "healthy buckets must keep the hash fold")
  }

  test("spill compaction: same final state, tombstone expiry and clustering as the hash path") {
    val all = Generator.events(spark, 4000, numConvs = 15, turnsPerConv = 5, seed = 17)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    def build(name: String): LakeTable = {
      val t = new LakeTable(tmpDir(name), numBuckets = 4)
      all.sortBy(_.seq).grouped(1000).zipWithIndex.foreach { case (chunk, i) =>
        MergeApplier.applyBatch(spark, t, spark.createDataset(chunk).toDF(), "t", i.toLong, mode = "mor")
      }
      t
    }
    val wm = Timestamp.valueOf("2030-01-01 00:00:00")
    val hashT = build("spill-compact-h")
    MergeApplier.compact(spark, hashT, wm)
    val spillT = build("spill-compact-s")
    withSpillFoldBytes(0L)(MergeApplier.compact(spark, spillT, wm))
    assert(!spillT.currentSnapshot().get.morDeltas)
    assert(finalState(spillT.read(spark)) == oracle)
    assert(finalState(spillT.read(spark)) == finalState(hashT.read(spark)))
    // identical stored row sets post-compaction (expiry decisions agree)
    assert(spillT.currentSnapshot().get.totalRows == hashT.currentSnapshot().get.totalRows)
    // key-clustered output contract: within each compacted file rows are
    // sorted by (conv_id, turn_idx)
    import org.apache.spark.sql.functions.{col, input_file_name}
    val clustered = spillT.readRaw(spark)
      .select(input_file_name().as("f"), col("conv_id"), col("turn_idx"))
      .collect().groupBy(_.getString(0))
    clustered.values.foreach { rows =>
      val keys = rows.map(r => (r.getString(1), r.getInt(2))).toSeq
      assert(keys == keys.sortBy(identity), "compacted file not key-clustered")
    }
  }

  test("spill compaction on a pure-COW (no delta) snapshot streams the sorted rows through") {
    // COW branch of the spill path: key-unique buckets through the sort fold
    val table = new LakeTable(tmpDir("spill-cow"), numBuckets = 4)
    val rows = (0 until 200).map(i => ev(s"c${i % 7}", i, s"t$i", "2024-01-01 10:00:00", "insert", i.toLong))
    MergeApplier.applyBatch(spark, table, spark.createDataset(rows).toDF(), "t", 0L)
    assert(!table.currentSnapshot().get.morDeltas)
    withSpillFoldBytes(0L) {
      MergeApplier.compactRetainTombstones(spark, table)
      assert(table.read(spark).count() == 200)
    }
  }

  test("rebucket folds an oversized table through the spill path") {
    val (table, oracle) = buildMor("spill-rebucket")
    withSpillFoldBytes(0L) { // the oversized-bucket recovery scenario
      val resized = MergeApplier.rebucket(spark, table, 16)
      assert(resized.currentSnapshot().get.numBuckets == 16)
      assert(finalState(resized.read(spark)) == oracle)
    }
  }

  test("point lookups agree under the spill policy") {
    val (table, oracle) = buildMor("spill-lookup")
    withSpillFoldBytes(0L) {
      val (conv, turn) = oracle.keys.head
      val row = table.lookupTurn(spark, conv, turn).collect()
      assert(row.length == 1)
      assert(row.head.getAs[String]("text") == oracle((conv, turn))._1)
      val convRows = table.lookupConversation(spark, conv).collect()
      assert(convRows.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet ==
        oracle.keys.filter(_._1 == conv).toSet)
    }
  }

  test("DSv2 read honors the spill policy: forced in-reader sort fold == hash fold == oracle") {
    // the SQL surface's MOR fold previously ALWAYS used the whole-bucket
    // hash map, so the oversized-bucket recovery contract did not hold on
    // the table's primary read path — the reader now degrades to the
    // spilling sort + O(1)-row streaming fold past the same byte threshold
    val (table, oracle) = buildMor("spill-dsv2")
    val readLake = () => spark.read.format("lake").option("path", table.root).load()
    val defaultRows = readLake().collect().map(_.toSeq).toSet
    withSpillFoldBytes(1L) { // every bucket "oversized"
      val spillDf = readLake()
      assert(finalState(spillDf) == oracle)
      assert(spillDf.collect().map(_.toSeq).toSet == defaultRows)
    }
  }
}

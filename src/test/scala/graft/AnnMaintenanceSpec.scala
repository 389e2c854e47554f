package graft.streaming

import graft.SparkSpecBase
import graft.model.{ChangeEvent, Model}
import graft.operators.{AnnIndex, MergeApplier, Similarity}
import graft.table.LakeTable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Streaming ANN-index maintenance: the index FOLLOWS a lake table's change
  * feed. Proofs: exact search parity after multi-batch catch-up, exactly-once
  * across checkpoint replay AND a torn (crashed mid-append) batch, the three
  * mutation policies (fail loudly / skip / LWW-apply via generation-tagged
  * tombstones), and null-vector hygiene.
  */
class AnnMaintenanceSpec extends SparkSpecBase {
  import Model.changeEventEncoder
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** One conv-level row per id (turn_idx 0) — an embeddings table. */
  private def events(ids: Range, t: String, op: String = "insert",
      seqBase: Long = 0L): Seq[ChangeEvent] =
    ids.map(i => ChangeEvent(f"c$i%04d", 0, "user", s"doc $i", None, ts(t), op,
      seqBase + i))

  /** Deterministic 16-dim embedding derived from conv_id (+ salt, so an
    * UPDATE can carry a genuinely different vector) — no RNG, so the
    * brute-force oracle and the index see identical vectors by construction.
    */
  private def withEmbedding(df: DataFrame, salt: Int = 0): DataFrame =
    df.withColumn("embedding", expr(
      s"transform(sequence(0, 15), d -> " +
        s"cast(pmod(hash(conv_id, d, $salt), 19) / 19.0 + 0.05 as float))"))

  private def applyEvents(table: LakeTable, evs: Seq[ChangeEvent],
      batchId: Long, salt: Int = 0): Long = {
    val df = withEmbedding(spark.createDataset(evs).toDF(), salt)
    MergeApplier.applyBatch(spark, table, df, "w", batchId)
    table.currentSnapshot().get.version
  }

  private def corpus(table: LakeTable): DataFrame =
    table.read(spark).select(col("conv_id"), col("embedding"))

  private def key(r: Row) =
    (r.getAs[String]("query_id"), r.getAs[Long]("rank"),
      r.getAs[String]("vec_id"), r.getAs[Double]("cosine"))

  private def indexRows(root: String): Long = {
    val meta = AnnIndex.readMeta(root)
    spark.read.schema(meta.schema).parquet(s"$root/vectors").count()
  }

  test("index follows the table: build at V, stream catches up, search exact") {
    val tableRoot = tmpDir("annm-table")
    val table = new LakeTable(tableRoot, numBuckets = 4)
    applyEvents(table, events(0 until 24, "2025-01-01 00:00:00"), 0L)
    val v0 = table.currentSnapshot().get.version

    val indexRoot = tmpDir("annm-idx")
    AnnIndex.buildIvf(corpus(table), indexRoot, nLists = 4, iters = 3,
      idCol = "conv_id")
    assert(AnnIndex.readMeta(indexRoot).corpusCount == 24L)

    // two more commits AFTER the build; maxVersionsPerTrigger=1 forces the
    // stream through one micro-batch per version (multi-batch ledger walk)
    applyEvents(table, events(24 until 32, "2025-01-01 00:01:00", seqBase = 100), 1L)
    applyEvents(table, events(32 until 40, "2025-01-01 00:02:00", seqBase = 200), 2L)

    val ckpt = tmpDir("annm-ckpt")
    AnnMaintenance.runAvailableNow(spark, tableRoot, indexRoot, ckpt,
      idCol = "conv_id", startingVersion = v0.toString,
      maxVersionsPerTrigger = 1)

    val meta = AnnIndex.readMeta(indexRoot)
    assert(meta.corpusCount == 40L, s"corpusCount ${meta.corpusCount}")
    assert(indexRows(indexRoot) == 40L)

    // exhaustive probe over the maintained index == brute force on the table
    val full = corpus(table).localCheckpoint(true)
    val queries = full.filter(col("conv_id").isin("c0000", "c0025", "c0037"))
    val got = AnnIndex.searchIvf(spark, indexRoot, queries, k = 5, nProbe = 4,
      idCol = "conv_id").collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(full, queries, k = 5, idCol = "conv_id")
      .collect().map(key).toSet
    assert(got == bf)

    // same checkpoint, no new commits → nothing re-applied (stream-level
    // exactly-once: offsets are table versions)
    AnnMaintenance.runAvailableNow(spark, tableRoot, indexRoot, ckpt,
      idCol = "conv_id", startingVersion = v0.toString,
      maxVersionsPerTrigger = 1)
    assert(AnnIndex.readMeta(indexRoot).corpusCount == 40L)
    assert(indexRows(indexRoot) == 40L)
  }

  test("mutations=apply: updates replace, deletes vanish, re-insert revives") {
    val tableRoot = tmpDir("annm-mut-table")
    val table = new LakeTable(tableRoot, numBuckets = 4)
    applyEvents(table, events(0 until 24, "2025-01-01 00:00:00"), 0L)
    val v0 = table.currentSnapshot().get.version

    val indexRoot = tmpDir("annm-mut-idx")
    AnnIndex.buildIvf(corpus(table), indexRoot, nLists = 4, iters = 3,
      idCol = "conv_id")

    // one commit: UPDATE ids 0-5 with genuinely different vectors (salt 7),
    // DELETE ids 6-11, INSERT ids 24-29
    applyEvents(table,
      events(0 until 6, "2025-01-01 00:01:00", seqBase = 100) ++
        events(6 until 12, "2025-01-01 00:01:00", op = "delete", seqBase = 200) ++
        events(24 until 30, "2025-01-01 00:01:00", seqBase = 300),
      1L, salt = 7)
    // a later commit RE-INSERTS a deleted id with a third vector (salt 9)
    applyEvents(table, events(6 until 7, "2025-01-01 00:02:00", seqBase = 400),
      2L, salt = 9)

    val ckpt = tmpDir("annm-mut-ckpt")
    AnnMaintenance.runAvailableNow(spark, tableRoot, indexRoot, ckpt,
      idCol = "conv_id", startingVersion = v0.toString,
      maxVersionsPerTrigger = 1, mutations = "apply")

    // the index answers from the FINAL table state: an updated id must rank
    // by its NEW vector, deleted ids never appear, the revived id is back
    val full = corpus(table).localCheckpoint(true)
    assert(full.count() == 25L) // 24 - 6 deleted + 6 inserted + 1 revived
    val queries = full.filter(col("conv_id").isin("c0000", "c0003", "c0006",
      "c0024"))
    val got = AnnIndex.searchIvf(spark, indexRoot, queries, k = 5, nProbe = 4,
      idCol = "conv_id").collect()
    val bf = Similarity.bruteForceTopK(full, queries, k = 5, idCol = "conv_id")
      .collect().map(key).toSet
    assert(got.map(key).toSet == bf)
    val deadIds = (7 until 12).map(i => f"c$i%04d").toSet
    assert(!got.exists(r => deadIds(r.getAs[String]("vec_id"))),
      "a deleted id surfaced in search results")
    // the revived id is live in the final state (parity above proves the
    // index ranks it by its THIRD vector, not a resurrected older one)
    assert(full.filter(col("conv_id") === "c0006").count() == 1L)
  }

  /** A micro-batch DF shaped like the cdf feed (only the columns applyBatch
    * touches: change_type, id, vector).
    */
  private def feedBatch(ids: Seq[Int], changeType: String = "insert",
      salt: Int = 0): DataFrame =
    withEmbedding(ids.map(i => (f"c$i%04d", changeType))
      .toDF("conv_id", "change_type"), salt)

  private def freshIndex(n: Int): String = {
    val root = tmpDir("annm-fresh")
    AnnIndex.buildIvf(withEmbedding((0 until n).map(i => f"c$i%04d").toDF("conv_id")),
      root, nLists = 2, iters = 2, idCol = "conv_id")
    root
  }

  test("foreachBatch replay is skipped by the ledger (no double-admit)") {
    val root = freshIndex(10)
    val batch = feedBatch(10 until 14)
    AnnMaintenance.applyBatch(spark, root, batch, 0L, "conv_id", "embedding",
      mutations = "fail")
    assert(AnnIndex.readMeta(root).corpusCount == 14L)
    // the checkpoint replays batch 0 after a downstream crash: no-op
    AnnMaintenance.applyBatch(spark, root, batch, 0L, "conv_id", "embedding",
      mutations = "fail")
    assert(AnnIndex.readMeta(root).corpusCount == 14L)
    assert(indexRows(root) == 14L)
  }

  test("torn batch is rolled back on recovery, then re-applied exactly once") {
    val root = freshIndex(10)
    val preFiles = AnnIndex.listIndexFiles(root)
    val preMeta = AnnIndex.readMeta(root)
    // the torn batch carries an UPDATE too, so the rollback must also sweep
    // the tombstone file and restore gen
    val batch = feedBatch(10 until 16)
      .unionByName(feedBatch(Seq(3), changeType = "update", salt = 5))

    // simulate the crash window: the apply's files LANDED (vectors AND a
    // tombstone) but the meta never moved and the journal is still armed —
    // exactly the state a kill before the meta write (the commit point)
    // leaves
    AnnIndex.applyChanges(spark, root,
      batch.select(col("conv_id"), col("embedding"), col("change_type")),
      idCol = "conv_id")
    assert(AnnIndex.readMeta(root).corpusCount == 16L) // the batch landed
    assert(AnnIndex.readMeta(root).gen == 1L)
    AnnIndex.writeMetaFor(root, preMeta)
    AnnIndex.writeJournal(root, preMeta.gen, preFiles)

    // recovery: delete the uncommitted files, re-apply
    AnnMaintenance.applyBatch(spark, root, batch, 0L, "conv_id", "embedding",
      mutations = "apply")
    assert(AnnIndex.readMeta(root).corpusCount == 16L)
    assert(AnnIndex.readMeta(root).gen == 1L)
    assert(indexRows(root) == 17L, // 10 built + 6 inserted + 1 replacement
      "a torn batch must never double-admit")

    // and the recovered index answers exactly against the expected state:
    // ids 0-9 with id 3 replaced by its salt-5 vector, plus 10-15
    val full = withEmbedding(
        (0 until 16).filter(_ != 3).map(i => f"c$i%04d").toDF("conv_id"))
      .unionByName(withEmbedding(Seq("c0003").toDF("conv_id"), salt = 5))
      .localCheckpoint(true)
    val queries = full.filter(col("conv_id").isin("c0003", "c0012"))
    val got = AnnIndex.searchIvf(spark, root, queries, k = 3, nProbe = 2,
      idCol = "conv_id").collect().map(key).toSet
    val bf = Similarity.bruteForceTopK(full, queries, k = 3, idCol = "conv_id")
      .collect().map(key).toSet
    assert(got == bf)
  }

  test("a batch committed before its journal delete replays as a no-op") {
    val root = freshIndex(10)
    val preFiles = AnnIndex.listIndexFiles(root)
    val preMeta = AnnIndex.readMeta(root)
    val batch = feedBatch(10 until 14)
    AnnMaintenance.applyBatch(spark, root, batch, 0L, "conv_id", "embedding",
      mutations = "fail")
    // the kill lands after the meta write (lastBatchId = 0, the commit
    // point) and before the journal delete
    assert(AnnIndex.readMeta(root).lastBatchId == 0L)
    AnnIndex.writeJournal(root, preMeta.gen, preFiles)
    AnnMaintenance.applyBatch(spark, root, batch, 0L, "conv_id", "embedding",
      mutations = "fail")
    assert(indexRows(root) == 14L, "a committed batch must never be re-admitted")
    val m = AnnIndex.readMeta(root)
    assert(m.corpusCount == 14L && m.gen == preMeta.gen + 1 && m.lastBatchId == 0L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "apply_inflight.json")))
  }

  test("a rebuild between maintenance batches keeps lastBatchId: the replay stays a no-op") {
    val root = freshIndex(10)
    AnnMaintenance.applyBatch(spark, root, feedBatch(10 until 14), 0L, "conv_id",
      "embedding", mutations = "fail")
    // the periodic rebuild absorbs batch 0 and renumbers the index gen 0
    val rebuilt = AnnIndex.buildIvf(
      withEmbedding((0 until 14).map(i => f"c$i%04d").toDF("conv_id")),
      root, nLists = 2, iters = 2, idCol = "conv_id")
    assert(rebuilt.lastBatchId == 0L && rebuilt.gen == 0L)
    assert(AnnIndex.readMeta(root).lastBatchId == 0L)
    AnnMaintenance.applyBatch(spark, root, feedBatch(10 until 14), 0L, "conv_id",
      "embedding", mutations = "fail")
    assert(indexRows(root) == 14L && AnnIndex.readMeta(root).corpusCount == 14L)
    // the next batch lands; a batch with no index work records only its id
    AnnMaintenance.applyBatch(spark, root, feedBatch(14 until 16), 1L, "conv_id",
      "embedding", mutations = "fail")
    AnnMaintenance.applyBatch(spark, root,
      feedBatch(Seq(3), changeType = "update", salt = 5), 2L, "conv_id",
      "embedding", mutations = "skip")
    val m = AnnIndex.readMeta(root)
    assert(indexRows(root) == 16L && m.corpusCount == 16L)
    assert(m.gen == 1L && m.lastBatchId == 2L)
  }

  test("non-insert changes fail loudly; skip drops them; null vectors dropped") {
    val root = freshIndex(8)
    val mixed = feedBatch(8 until 10)
      .unionByName(feedBatch(Seq(3), changeType = "update"))
      .unionByName(feedBatch(Seq(4), changeType = "delete"))
    val e = intercept[IllegalArgumentException] {
      AnnMaintenance.applyBatch(spark, root, mixed, 0L, "conv_id", "embedding",
        mutations = "fail")
    }
    assert(e.getMessage.contains("append-only"))
    assert(AnnIndex.readMeta(root).corpusCount == 8L) // nothing landed

    // consent: updates/deletes skipped (documented staleness), inserts land;
    // a null embedding (vector not yet computed upstream) is dropped too
    val withNull = mixed.unionByName(
      Seq(("c0099", "insert")).toDF("conv_id", "change_type")
        .withColumn("embedding", lit(null).cast("array<float>")))
    AnnMaintenance.applyBatch(spark, root, withNull, 0L, "conv_id", "embedding",
      mutations = "skip")
    assert(AnnIndex.readMeta(root).corpusCount == 10L)
    assert(indexRows(root) == 10L)
  }
}

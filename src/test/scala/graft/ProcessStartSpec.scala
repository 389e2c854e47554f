package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{IncrementalAgg, MergeApplier}
import graft.streaming.{CdcStream, StreamingView, WindowedStats}
import graft.table.{ForkFreeLocalFileSystem, LakeTable}
import org.apache.spark.sql.functions.col

/** The engine's write and stream paths start no OS process. Without
  * libhadoop, Hadoop's local filesystem forks `chmod` to set permissions and
  * `readlink` on a `FileContext` rename; Spark's default checkpoint file
  * manager took both on every offset, commit and source-log write — about
  * 30 processes per trigger. Each case runs warm (the same path once before
  * the counted run), stages its input outside the count, and checks its
  * result after.
  */
class ProcessStartSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def summary(starts: Seq[String]): String =
    starts.groupBy(_.split(' ').head).map { case (cmd, s) => s"$cmd × ${s.size}" }
      .mkString(", ")

  private def state(t: LakeTable): Map[(String, Int), (String, Long)] =
    t.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  private def oracle(events: Seq[ChangeEvent]): Map[(String, Int), (String, Long)] =
    Generator.oracleFold(events).map { case (k, e) => k -> ((e.text, e.seq)) }

  Seq("cow", "mor").foreach { mode =>
    test(s"a warm $mode drain through CdcStream.runAvailableNow starts no process") {
      val stash = tmpDir(s"ps-$mode-stash")
      Generator.writeChangelog(spark, stash, 3000, numConvs = 15, turnsPerConv = 5,
        numFiles = 8, seed = 41)
      val names = parquetNames(stash)
      val src = tmpDir(s"ps-$mode-src")
      val table = new LakeTable(tmpDir(s"ps-$mode-table"), numBuckets = 4)
      val ckpt = tmpDir(s"ps-$mode-ckpt")
      copyIn(stash, src, names.take(2))
      CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1, mode = mode)
      copyIn(stash, src, names.drop(2))
      val v0 = table.currentSnapshot().get.version
      val starts = processStarts {
        CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1, mode = mode)
      }
      val triggers = table.currentSnapshot().get.version - v0
      assert(triggers == names.size - 2)
      assert(starts.isEmpty,
        s"$mode drain of $triggers triggers started ${starts.size} processes: ${summary(starts)}")
      val all = Generator.events(spark, 3000, 15, 5, seed = 41).as[ChangeEvent].collect().toSeq
      assert(state(table) == oracle(all))
    }
  }

  test("a stateful gate drain and a view drain start no process") {
    // Windowed counts through the gates' drain: offsets, commits, the file
    // source log, the state store, the parquet sink's log and its data files
    // (written through the session's Hadoop conf, which the drain points at
    // the fork-free filesystem while it runs). ts-ordered chunks: no event
    // is late, so every emitted window's count is the batch count.
    val evDf = Generator.events(spark, 2000, 10, 5, seed = 23).select("conv_id", "op", "ts")
    val schema = evDf.schema
    val events = evDf.collect().sortBy(_.getTimestamp(2).getTime)
    val src = tmpDir("ps-win-src")
    val stage = tmpDir("ps-win-stage")
    events.grouped(400).zipWithIndex.foreach { case (rows, i) =>
      writeFlatParquet(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
        stage, f"chunk_$i%02d.parquet")
    }
    val chunks = parquetNames(stage)
    val out = tmpDir("ps-win-out")
    val ckpt = tmpDir("ps-win-ckpt")
    val agg = WindowedStats.opCountsPerWindow(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src))
      .select(col("window.start").as("window_start"), col("op"), col("n_events"))
    copyIn(stage, src, chunks.take(2))
    SparkEntry.runAvailableNowToParquet(agg, out, ckpt)
    copyIn(stage, src, chunks.drop(2))
    val gateStarts = processStarts { SparkEntry.runAvailableNowToParquet(agg, out, ckpt) }
    assert(gateStarts.isEmpty, s"stateful gate drain started ${gateStarts.size} processes: " +
      s"${summary(gateStarts)}: $gateStarts")
    // the drain's scoped keys are gone again
    ForkFreeLocalFileSystem.conf.keys.foreach(k => assert(spark.conf.getOption(k).isEmpty, k))
    val batch = WindowedStats.opCountsPerWindow(spark.read.parquet(stage))
      .select(col("window.start").as("window_start"), col("op"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val emitted = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
    assert(emitted.nonEmpty)
    emitted.foreach { case (k, n) => assert(batch.get(k).contains(n), s"window $k") }

    // The materialized view's change-feed stream, several triggers.
    val base = tmpDir("ps-view-base")
    val a = new LakeTable(base, numBuckets = 4)
    val view = new LakeTable(tmpDir("ps-view"), numBuckets = 4)
    val viewCkpt = tmpDir("ps-view-ckpt")
    val all = Generator.events(spark, 2400, 12, 5, seed = 29).as[ChangeEvent].collect().toSeq
    val batches = all.grouped(400).map(b => spark.createDataset(b).toDF()).toSeq
    MergeApplier.applyBatch(spark, a, batches.head, "w", 0L)
    StreamingView.runAvailableNow(spark, base, view, viewCkpt)
    batches.zipWithIndex.drop(1).foreach { case (b, i) =>
      MergeApplier.applyBatch(spark, a, b, "w", i.toLong) }
    val viewStarts = processStarts {
      StreamingView.runAvailableNow(spark, base, view, viewCkpt, maxVersionsPerTrigger = 1)
    }
    assert(viewStarts.isEmpty,
      s"StreamingView drain started ${viewStarts.size} processes: ${summary(viewStarts)}")
    def rows(t: org.apache.spark.sql.DataFrame) = t.select("conv_id", "turns", "total_chars")
      .collect().map(_.toSeq).toSet
    assert(rows(view.read(spark)) == rows(IncrementalAgg.convStats(a.read(spark))))
  }

  test("COW apply, MOR apply, compaction and rebucket start no process") {
    val all = Generator.events(spark, 2000, 10, 5, seed = 19).as[ChangeEvent].collect().toSeq
    val batches = all.grouped(250).map(b => spark.createDataset(b).toDF()).toSeq
    val table = new LakeTable(tmpDir("ps-ops"), numBuckets = 4)
    // warm: each operation once, uncounted
    MergeApplier.applyBatch(spark, table, batches(0), "w", 0L)
    MergeApplier.applyBatch(spark, table, batches(1), "w", 1L)
    MergeApplier.applyBatch(spark, table, batches(2), "w", 2L, mode = "mor")
    MergeApplier.compactRetainTombstones(spark, table)
    val warm = MergeApplier.rebucket(spark, table, 8)
    var resized: LakeTable = null
    val starts = Seq(
      "COW apply" -> processStarts { MergeApplier.applyBatch(spark, warm, batches(3), "w", 3L) },
      "MOR apply" -> processStarts { MergeApplier.applyBatch(spark, warm, batches(4), "w", 4L, mode = "mor") },
      "compaction" -> processStarts { MergeApplier.compactRetainTombstones(spark, warm) },
      "rebucket" -> processStarts { resized = MergeApplier.rebucket(spark, warm, 4) })
    starts.foreach { case (what, s) =>
      assert(s.isEmpty, s"$what started ${s.size} processes: ${summary(s)}") }
    assert(state(resized) == oracle(all.take(5 * 250)))
  }
}

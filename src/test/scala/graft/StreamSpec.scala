package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.streaming.{CdcStream, ForkFreeCheckpointFileManager}
import graft.table.LakeTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The local filesystem under another scheme, so the checkpoint manager's
  * non-`file:` branch runs without a cluster.
  */
class OtherSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("other:///")
  override def getScheme: String = "other"
}

/** [[OtherSchemeFileSystem]] as a `FileContext` filesystem. */
class OtherSchemeFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new OtherSchemeFileSystem, conf, "other", false)

class StreamSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  test("tail: streaming apply over files equals the in-memory oracle fold") {
    val dir = tmpDir("stream-src")
    Generator.writeChangelog(spark, dir, 4000, numConvs = 20, turnsPerConv = 6,
      numFiles = 10, seed = 31)
    val all = Generator.events(spark, 4000, 20, 6, seed = 31)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }

    val table = new LakeTable(tmpDir("stream-table"), numBuckets = 8)
    CdcStream.runAvailableNow(spark, dir, table, tmpDir("stream-ckpt"),
      maxFilesPerTrigger = 3)
    assert(finalState(table) == oracle)
    // 10 files / 3 per trigger → ≥ 4 commits, ledger advanced
    val s = table.currentSnapshot().get
    assert(s.maxBatchId("stream") >= 3L)
  }

  test("continuous tail (ProcessingTime trigger): files arriving while the query runs are applied") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = tmpDir("pt-src")
    val stash = tmpDir("pt-stash")
    Generator.writeChangelog(spark, stash, 2000, numConvs = 10, turnsPerConv = 5,
      numFiles = 4, seed = 91)
    val chunks = Files.list(Paths.get(stash)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    // first half available at start
    chunks.take(2).foreach(f => Files.copy(Paths.get(f),
      Paths.get(srcDir, Paths.get(f).getFileName.toString)))
    val table = new LakeTable(tmpDir("pt-table"), numBuckets = 4)
    val q = CdcStream.start(spark, srcDir, table, tmpDir("pt-ckpt"),
      maxFilesPerTrigger = 2, trigger = Trigger.ProcessingTime("300 milliseconds"))
    try {
      // second half lands while the query is live — the tail must pick it up
      def rowsApplied: Long =
        table.currentSnapshot().map(_.metrics.getOrElse("batchRows", 0L)).getOrElse(0L)
      var waited = 0
      while (table.currentSnapshot().isEmpty && waited < 300) { Thread.sleep(100); waited += 1 }
      chunks.drop(2).foreach(f => Files.copy(Paths.get(f),
        Paths.get(srcDir, Paths.get(f).getFileName.toString)))
      val all = Generator.events(spark, 2000, 10, 5, seed = 91)
        .as[ChangeEvent].collect().toSeq
      val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
      waited = 0
      while (finalState(table) != oracle && waited < 600) { Thread.sleep(100); waited += 1 }
      assert(finalState(table) == oracle,
        s"continuous tail did not converge to the oracle (applied=$rowsApplied)")
    } finally q.stop()
  }

  test("kill/resume: second run from the same checkpoint continues without dupes or gaps") {
    val srcDir = tmpDir("resume-src")
    val stash = tmpDir("resume-stash")
    Generator.writeChangelog(spark, stash, 4000, numConvs = 20, turnsPerConv = 6,
      numFiles = 8, seed = 57)
    val chunks = Files.list(Paths.get(stash)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]()
    while (chunks.hasNext) names += chunks.next().getFileName.toString
    val sortedNames = names.sorted

    // phase 1: only the first half of the changelog is visible
    sortedNames.take(4).foreach(n => Files.copy(Paths.get(s"$stash/$n"),
      Paths.get(s"$srcDir/$n"), StandardCopyOption.REPLACE_EXISTING))
    val table = new LakeTable(tmpDir("resume-table"), numBuckets = 8)
    val ckpt = tmpDir("resume-ckpt")
    CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 2)
    val midVersion = table.currentSnapshot().get.version
    assert(midVersion > 0)

    // "crash": the query is gone. New files arrive. Resume from checkpoint.
    sortedNames.drop(4).foreach(n => Files.copy(Paths.get(s"$stash/$n"),
      Paths.get(s"$srcDir/$n"), StandardCopyOption.REPLACE_EXISTING))
    CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 2)

    val all = Generator.events(spark, 4000, 20, 6, seed = 57)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)

    // re-running with nothing new is a pure no-op (no version churn beyond
    // possible empty-batch commits)
    val vBefore = table.currentSnapshot().get.version
    CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 2)
    assert(finalState(table) == oracle)
    assert(table.currentSnapshot().get.version <= vBefore + 1)
  }

  test("replayed batch after losing the checkpoint is skipped by the table ledger") {
    val srcDir = tmpDir("ledger-src")
    Generator.writeChangelog(spark, srcDir, 1000, numConvs = 10, turnsPerConv = 5,
      numFiles = 2, seed = 77)
    val table = new LakeTable(tmpDir("ledger-table"), numBuckets = 4)
    CdcStream.runAvailableNow(spark, srcDir, table, tmpDir("ledger-ckpt1"),
      maxFilesPerTrigger = 10)
    val v1 = table.currentSnapshot().get.version
    val state1 = finalState(table)
    // checkpoint lost → Structured Streaming restarts batchIds at 0 and
    // replays everything; the per-writer ledger must swallow it all.
    CdcStream.runAvailableNow(spark, srcDir, table, tmpDir("ledger-ckpt2"),
      maxFilesPerTrigger = 10)
    assert(finalState(table) == state1)
    assert(table.currentSnapshot().get.version == v1, "replay must not commit")
  }

  test("vacuum interleaved with a live tail: grace window protects in-flight commits") {
    val srcDir = tmpDir("vac-src")
    val stash = tmpDir("vac-stash")
    Generator.writeChangelog(spark, stash, 3000, numConvs = 15, turnsPerConv = 5,
      numFiles = 6, seed = 63)
    val names = { val s = Files.list(Paths.get(stash))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted } finally s.close() }
    // phase 1: tail the first half, then a maintenance vacuum BETWEEN runs
    // (no live writer → zero grace is safe, old snapshots expire)
    names.take(3).foreach(n => Files.copy(Paths.get(s"$stash/$n"),
      Paths.get(s"$srcDir/$n"), StandardCopyOption.REPLACE_EXISTING))
    val table = new LakeTable(tmpDir("vac-table"), numBuckets = 4)
    val ckpt = tmpDir("vac-ckpt")
    CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 1)
    assert(table.currentSnapshot().get.version > 1)
    table.vacuum(keepLast = 1, graceMs = 0)
    assert(table.versions().size == 1, "zero-grace vacuum must expire old snapshots")
    // phase 2: resume from the SAME checkpoint with a vacuum racing the
    // writer — the default 1h grace spares every in-flight commit's young
    // files, so the sweep must neither crash nor corrupt the stream
    names.drop(3).foreach(n => Files.copy(Paths.get(s"$stash/$n"),
      Paths.get(s"$srcDir/$n"), StandardCopyOption.REPLACE_EXISTING))
    @volatile var stopSweep = false
    @volatile var sweepErr: Throwable = null
    val sweeper = new Thread(() =>
      try { while (!stopSweep) { table.vacuum(keepLast = 1); Thread.sleep(20) } }
      catch { case t: Throwable => sweepErr = t })
    sweeper.start()
    try CdcStream.runAvailableNow(spark, srcDir, table, ckpt, maxFilesPerTrigger = 1)
    finally { stopSweep = true; sweeper.join() }
    assert(sweepErr == null, s"vacuum crashed under the live tail: $sweepErr")
    val all = Generator.events(spark, 3000, 15, 5, seed = 63)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)
    // and the post-race table still vacuums + reads cleanly
    table.vacuum(keepLast = 1, graceMs = 0)
    assert(finalState(table) == oracle)
  }

  test("mid-stream schema evolution: v1 files (no tool) then v2 files") {
    val srcDir = tmpDir("evolve-src")
    // first half of events written WITHOUT the tool column
    Generator.writeChangelog(spark, srcDir, 2000, numConvs = 10, turnsPerConv = 5,
      numFiles = 4, seed = 91, evolveAt = 1000)
    val table = new LakeTable(tmpDir("evolve-table"), numBuckets = 4)
    // source schema = evolved schema; missing column in old files → null
    CdcStream.runAvailableNow(spark, srcDir, table, tmpDir("evolve-ckpt"),
      maxFilesPerTrigger = 1)
    val all = Generator.events(spark, 2000, 10, 5, seed = 91)
      .as[ChangeEvent].collect().toSeq
    // oracle: winners from v1 half carry null tool
    val oracle = Generator.oracleFold(all).map { case (k, e) =>
      k -> ((e.text, if (e.seq < 1000) None else e.tool))
    }
    val got = table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), Option(r.getAs[String]("tool"))))).toMap
    assert(got == oracle)
  }

  private val ManagerKey = ForkFreeCheckpointFileManager.Key
  private val ForkFree = classOf[ForkFreeCheckpointFileManager].getName
  private val Stock = classOf[FileContextBasedCheckpointFileManager].getName

  /** Stage `numFiles` changelog chunks; returns (stash dir, sorted names). */
  private def stash(prefix: String, n: Long, seed: Long, numFiles: Int): (String, Seq[String]) = {
    val dir = tmpDir(s"$prefix-stash")
    Generator.writeChangelog(spark, dir, n, numConvs = 12, turnsPerConv = 5,
      numFiles = numFiles, seed = seed)
    (dir, parquetNames(dir))
  }

  private def oracleOf(n: Long, seed: Long): Map[(String, Int), (String, Long)] =
    Generator.oracleFold(Generator.events(spark, n, 12, 5, seed).as[ChangeEvent].collect().toSeq)
      .map { case (k, e) => k -> ((e.text, e.seq)) }

  test("checkpoint compatibility: a stock-manager checkpoint resumes under the fork-free one") {
    val (dir, names) = stash("compat", 2400, 17, 6)
    val src = tmpDir("compat-src")
    val table = new LakeTable(tmpDir("compat-table"), numBuckets = 4)
    val ckpt = tmpDir("compat-ckpt")
    copyIn(dir, src, names.take(3))
    spark.conf.set(ManagerKey, Stock)
    try {
      CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1)
      assert(spark.conf.get(ManagerKey) == Stock, "a user-set manager must be left as it is")
    } finally spark.conf.unset(ManagerKey)
    assert(Files.exists(Paths.get(s"$ckpt/commits/2")))
    copyIn(dir, src, names.drop(3))
    val starts = processStarts {
      CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1)
    }
    assert(spark.conf.get(ManagerKey) == ForkFree)
    assert(starts.isEmpty, s"the resumed run started ${starts.size} processes")
    assert(Files.exists(Paths.get(s"$ckpt/commits/5")))
    assert(table.currentSnapshot().get.maxBatchId("stream") == 5L)
    assert(finalState(table) == oracleOf(2400, 17))
  }

  test("crash between the offset write and the commit write: batch N re-runs as a ledger no-op") {
    val (dir, names) = stash("crashwin", 2000, 23, 4)
    val src = tmpDir("crashwin-src")
    copyIn(dir, src, names)
    val table = new LakeTable(tmpDir("crashwin-table"), numBuckets = 4)
    val ckpt = tmpDir("crashwin-ckpt")
    CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1)
    val last = names.size - 1
    val commit = Paths.get(s"$ckpt/commits/$last")
    assert(Files.exists(Paths.get(s"$ckpt/offsets/$last")) && Files.exists(commit))
    // the state a crash after the offset write and before the commit write leaves
    Files.delete(commit)
    Files.deleteIfExists(commit.resolveSibling(s".$last.crc"))
    val before = table.currentSnapshot().get
    CdcStream.runAvailableNow(spark, src, table, ckpt, maxFilesPerTrigger = 1)
    assert(Files.exists(commit), s"batch $last was not re-run")
    assert(table.currentSnapshot().get.version == before.version,
      "the re-run batch must not commit again")
    assert(finalState(table) == oracleOf(2000, 23))
  }

  test("createAtomic without overwrite onto an existing batch file fails and keeps its bytes") {
    val dir = tmpDir("atomic")
    val fm = new ForkFreeCheckpointFileManager(new Path(dir), new Configuration())
    val file = new Path(s"$dir/0")
    val first = fm.createAtomic(file, overwriteIfPossible = false)
    first.write("v1\n{\"batch\":0}".getBytes("UTF-8"))
    first.close()
    val bytes = Files.readAllBytes(Paths.get(s"$dir/0"))
    val second = fm.createAtomic(file, overwriteIfPossible = false)
    second.write("v1\n{\"batch\":\"other\"}".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](second.close())
    assert(Files.readAllBytes(Paths.get(s"$dir/0")).sameElements(bytes))
    assert(fm.list(new Path(dir)).map(_.getPath.getName).filterNot(_.startsWith(".")).toSeq
      == Seq("0"))
  }

  test("installing the fork-free manager leaves a user's choice of manager as it is") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    spark.conf.set(ManagerKey, Stock)
    try {
      ForkFreeCheckpointFileManager.install(spark)
      assert(spark.conf.get(ManagerKey) == Stock)
      spark.conf.unset(ManagerKey)
      hadoopConf.set(ManagerKey, Stock)
      ForkFreeCheckpointFileManager.install(spark)
      assert(spark.conf.getOption(ManagerKey).isEmpty,
        "a manager set in the Hadoop conf is a user choice")
      hadoopConf.unset(ManagerKey)
      ForkFreeCheckpointFileManager.install(spark)
      assert(spark.conf.get(ManagerKey) == ForkFree)
    } finally { hadoopConf.unset(ManagerKey); spark.conf.unset(ManagerKey) }
  }

  test("a non-file: checkpoint path gets the manager Spark would have picked") {
    val conf = new Configuration()
    conf.set(ManagerKey, ForkFree) // as the session's Hadoop conf carries it
    conf.set("fs.other.impl", classOf[OtherSchemeFileSystem].getName)
    conf.set("fs.AbstractFileSystem.other.impl", classOf[OtherSchemeFs].getName)
    val other = new Path(s"other://${tmpDir("other-ckpt")}")
    def stock(c: Configuration) = {
      val without = new Configuration(c)
      without.unset(ManagerKey)
      CheckpointFileManager.create(other, without).getClass
    }
    assert(stock(conf) == classOf[FileContextBasedCheckpointFileManager])
    assert(new ForkFreeCheckpointFileManager(other, conf).underlying.getClass == stock(conf))
    // without a FileContext binding Spark falls back to the FileSystem manager
    conf.unset("fs.AbstractFileSystem.other.impl")
    assert(stock(conf) == classOf[FileSystemBasedCheckpointFileManager])
    assert(new ForkFreeCheckpointFileManager(other, conf).underlying.getClass == stock(conf))
    // a scheme-less path resolves against the default filesystem, file:
    val local = new ForkFreeCheckpointFileManager(new Path(tmpDir("local-ckpt")), conf)
    assert(local.underlying.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Paths, StandardCopyOption}

trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write a frame as ONE flat parquet file `dir/name` — the file-stream
    * source tails flat files, not per-chunk write directories, so streaming
    * tests stage arrival-ordered chunks through this.
    */
  def writeFlatParquet(df: org.apache.spark.sql.DataFrame, dir: String,
      name: String): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.parquet(tmp)
    val part = { val s = Files.list(Paths.get(tmp))
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      } finally s.close() }
    Files.move(part, Paths.get(s"$dir/$name"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** The `.parquet` file names directly under `dir`, sorted. */
  def parquetNames(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .toSeq.sorted } finally s.close()
  }

  /** Copy the named files from `from` into `to` — arrival of staged chunks. */
  def copyIn(from: String, to: String, names: Seq[String]): Unit =
    names.foreach(n => Files.copy(Paths.get(s"$from/$n"), Paths.get(s"$to/$n"),
      StandardCopyOption.REPLACE_EXISTING))

  /** Run `f` with the session conf `key` set to `value` (unset for None),
    * restoring the previous setting after: a key that was unset is unset
    * again (`getAll` holds only the keys set on the session, where
    * `getOption` would read a registered key's default back as a value).
    */
  def withConf[T](key: String, value: Option[String])(f: => T): T = {
    val old = spark.conf.getAll.get(key)
    value.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `f` with the session's spill-fold threshold at `bytes` (0 sends
    * every bucket to the sort fold). A fold plans its spill set when it is
    * built, so a DataFrame built inside keeps it when it runs outside.
    */
  def withSpillFoldBytes[T](bytes: Long)(f: => T): T =
    withConf(graft.operators.BucketLocal.SpillFoldBytesKey, Some(bytes.toString))(f)

  /** What the Spark jobs `f` started on this thread ran: the jobs, the
    * stages that ran (skipped ones do not), and the shuffle bytes, output
    * bytes and output rows those stages reported. A marker job after `f`
    * flushes the listener bus.
    */
  def jobPlan(f: => Unit): SparkSpecBase.JobPlan = plan(anyThread = false)(f)

  /** [[jobPlan]] over every job that started while `f` ran, on any thread
    * (a stream runs its batches on its own).
    */
  def jobPlanAnyThread(f: => Unit): SparkSpecBase.JobPlan = plan(anyThread = true)(f)

  private def plan(anyThread: Boolean)(f: => Unit): SparkSpecBase.JobPlan = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"job-plan-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val outputBytes = new java.util.concurrent.atomic.AtomicLong()
    val outputRows = new java.util.concurrent.atomic.AtomicLong()
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == s"$group-marker" => markerJob.set(e.jobId)
          case g if anyThread || g.contains(group) =>
            jobs.add(e.jobId); e.stageIds.foreach(jobStages.add(_))
          case _ => ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (jobStages.contains(e.stageInfo.stageId)) {
          stages.incrementAndGet()
          val m = e.stageInfo.taskMetrics
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          outputBytes.addAndGet(m.outputMetrics.bytesWritten)
          outputRows.addAndGet(m.outputMetrics.recordsWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) flushed.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job plan")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job end")
      SparkSpecBase.JobPlan(jobs.size, stages.get, shuffleBytes.get, outputBytes.get,
        outputRows.get)
    } finally sc.removeSparkListener(l)
  }

  /** The command lines of every OS process this JVM started while `f` ran,
    * from an in-process JFR recording of `jdk.ProcessStart` events. Hadoop's
    * local filesystem falls back to forking `chmod`, `readlink` and `ls` when
    * libhadoop is absent; this is how a spec pins a path as fork-free. Not
    * counted, because they land on whatever runs at that moment: `getconf
    * PAGESIZE`, which Spark's executor-metrics poller runs once per JVM at
    * its first heartbeat, and the `rm -rf` with which Spark deletes a
    * garbage-collected session's artifact dir, after whichever GC finds it.
    */
  def processStarts(f: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      f
      rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filterNot(c => c == "getconf PAGESIZE" ||
          c.startsWith("rm -rf ") && c.contains("/artifacts-"))
    } finally { rec.close(); Files.delete(dump) }
  }
}

object SparkSpecBase {
  final case class JobPlan(jobs: Int, stages: Int, shuffleWriteBytes: Long,
      outputBytes: Long, outputRows: Long)

  // One session for the whole forked test JVM.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

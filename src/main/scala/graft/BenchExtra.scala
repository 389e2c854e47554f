package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1) — SEPARATE from the
  * frozen Bench: times individual SparkEntry queries with the SAME session
  * configuration and sweep methodology (warmup pass + 2 timed passes, min),
  * and additionally counts Spark jobs / stages / tasks per timed pass so the
  * fixed-overhead structure of each query is visible. Optionally dumps
  * `.explain("formatted")` plans to a directory.
  *
  * Usage: runMain graft.BenchExtra [--profile] [--plans <dir> <suffix>] [query ...]
  * (flags in any order, before the query names)
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object BenchExtra {
  private class Counter extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
    def snap: (Long, Long, Long) = (jobs.get, stages.get, tasks.get)
  }

  /** --profile: per-job wall durations + descriptions + gaps between jobs,
    * printed after each timed pass — guide §1's empirical loop for queries
    * whose cost is many small jobs rather than one big stage.
    */
  private class JobProfiler extends SparkListener {
    import org.apache.spark.scheduler.SparkListenerJobEnd
    case class J(id: Int, start: Long, var end: Long, desc: String)
    val js = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
      js.put(j.jobId, J(j.jobId, System.nanoTime(), 0L,
        s"stages=${j.stageInfos.size} $site"))
      order.add(j.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = js.get(e.jobId); if (j != null) j.end = System.nanoTime()
    }
    def reset(): Unit = { js.clear(); order.clear() }
    def report(): Unit = {
      import scala.jdk.CollectionConverters._
      var prevEnd = 0L
      order.asScala.foreach { id =>
        val j = js.get(id)
        val gapMs = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e6
        // a job whose end event has not arrived has no duration
        val dur = if (j.end == 0L) "unfinished" else f"${(j.end - j.start) / 1e6}%.1fms"
        if (j.end != 0L) prevEnd = j.end
        System.err.println(f"[job] ${j.id}%4d dur=$dur%12s gap=${gapMs}%7.1fms ${j.desc.take(90)}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    var rest = args.toList
    var plansDir: Option[String] = None
    var plansSuffix = "before"
    var profile = false
    var parsing = true
    while (parsing) rest match {
      case "--profile" :: more => profile = true; rest = more
      case "--plans" :: d :: suffix :: more =>
        plansDir = Some(d); plansSuffix = suffix; rest = more
      case _ => parsing = false
    }
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toList.sorted
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val counter = new Counter
    spark.sparkContext.addSparkListener(counter)
    val profiler = if (profile) {
      val p = new JobProfiler; spark.sparkContext.addSparkListener(p); Some(p)
    } else None

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    plansDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val results = names.map { name =>
      spark.sparkContext.setJobDescription(s"warmup $name")
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[extra] $name warmup failed: $e") }
      plansDir.foreach { d =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"${name}_$plansSuffix.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[extra] $name plan failed: $e") }
      }
      val (j0, s0, t0) = counter.snap
      profiler.foreach(_.reset())
      spark.sparkContext.setJobDescription(s"timed1 $name")
      val (_, sec1) = timed { try fn(spark, sfDir).count() catch { case _: Throwable => -1L } }
      profiler.foreach { p => System.err.println(s"[job] --- $name pass1 ---"); p.report() }
      val (j1, s1, t1) = counter.snap
      spark.sparkContext.setJobDescription(s"timed2 $name")
      val (_, sec2) = timed { try fn(spark, sfDir).count() catch { case _: Throwable => -1L } }
      val sec = math.min(sec1, sec2)
      System.err.println(f"[extra] $name%-28s min=$sec%6.3f (p1=$sec1%6.3f p2=$sec2%6.3f) jobs=${j1 - j0} stages=${s1 - s0} tasks=${t1 - t0}")
      (name, sec, sec1, sec2, j1 - j0, s1 - s0, t1 - t0)
    }
    val total = results.map(_._2).sum
    val qs = results.map { case (n, s, _, _, j, st, tk) =>
      f""""$n":{"sec":$s%.3f,"jobs":$j,"stages":$st,"tasks":$tk}""" }.mkString("{", ",", "}")
    println(f"""{"metric":"extra","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}

package perfbench

import graft.changelog.Generator
import graft.model.Model
import graft.operators.{Lww, MergeApplier}
import graft.streaming.CdcStream
import graft.table.{LakeTable, Snapshot}
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Input sizes of the three workloads. Both tails share one preload and one
  * changelog per seed, so their figures differ only by the write mode.
  */
object Sizes {
  val Buckets = 32
  val TurnsPerConv = 25
  // replay_cold: a zipf-skewed changelog that LWW collapses about 8:1
  val ReplayEvents = 200000L
  val ReplayConvs = 1050
  val ReplayFiles = 16
  val ReplayWarmups = 2
  val ReplayMinReps = 4
  val SingleCoreReps = 3
  // the first job of a fresh local[1] session runs about 20% slow
  val SingleCoreWarmups = 1
  // tails: table rows ≈ 100 × events per trigger
  val TailBuckets = 4
  val PreloadEvents = 60000L
  val PreloadFiles = 8
  val TailConvs = 400
  val Triggers = 50
  val EventsPerTrigger = 100L
  val Local1Triggers = 11
  val WarmupTriggers = 8
  // MOR auto-compaction every 14 delta commits: 3 of 50 triggers (6%, <10%)
  // compact, and the final table is left 8 deltas deep for the reads
  val AutoCompactEvery = 14
  // reads
  val Lookups = 60
  val LookupWarmups = 10
  val CheckedLookups = 5
  val Scans = 8
  val ScanWarmups = 2
  // set-up is repeated, and its median reported, so set-up time is steady
  val SetupReps = 3
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, state: String)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Set("replay_cold", "tail_cow", "tail_mor_read")(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("state"))
  }
}

object CdcBench {
  def main(argv: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind, so the JVM is ended explicitly,
    // with a non-zero code and no result line when the run fails
    val status = try {
      System.out.println(new CdcBench(Opts.parse(argv)).run())
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(status)
  }

  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** One run of one workload: set-up, warm-up, the timed phase, then reads and
  * the correctness check outside the timed window.
  */
final class CdcBench(o: Opts) {
  import CdcBench.{median, pct}
  import Sizes._

  private val cores = Runtime.getRuntime.availableProcessors
  private val runId = f"${o.workload}-s${o.seed}-${System.currentTimeMillis()}%x"
  private val tracer = new Tracer(runId, o.trace)
  private val gc = new GcWatch
  private val progress = new ProgressLog
  private val sparkLog = new SparkLog
  private var spark: SparkSession = _

  private var attempted = 0L
  private var failed = 0L
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val record = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[String]

  private val t0s = tracer.nowMs / 1000
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${o.workload} +${tracer.nowMs / 1000 - t0s}%.1fs] $msg")

  private def dir(name: String): String = Paths.get(o.work, name).toString
  private def secs[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }
  private def rm(p: String): Unit = org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))

  /** A full GC outside any timing, so each timed phase starts from the
    * same heap state instead of inheriting the previous phase's garbage.
    */
  private def settle(): Unit = System.gc()

  private def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; checks += s"FAIL $what" }
  }

  // --- session --------------------------------------------------------------

  private def session(c: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$c]")
      .appName("perfbench")
      // the same session settings graft.Bench uses for its CDC legs
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.streams.addListener(progress)
    if (o.trace) s.sparkContext.addSparkListener(sparkLog)
    spark = s
    s
  }

  // --- inputs ---------------------------------------------------------------

  private def readChangelog(d: String): DataFrame =
    spark.read.schema(Model.changeEventSchema).parquet(d)

  /** Write `df` (seq in [seqBase, seqBase + n)) as `files` arrival chunks of
    * equal seq ranges, named and time-stamped in arrival order, so the file
    * stream source takes one chunk per trigger in a fixed order. One Spark
    * job. Returns the bytes written.
    */
  private def writeChunks(df: DataFrame, d: String, files: Int, seqBase: Long, n: Long): Long = {
    val per = math.max(1L, (n + files - 1) / files)
    val tmp = d + ".tmp"
    // adaptive execution would coalesce the small shuffle into one task that
    // writes every chunk in turn; keep one writer per core instead
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      df.withColumn("__f", least(floor((col("seq") - seqBase) / per), lit(files - 1)).cast("int"))
        .repartition(col("__f"))
        .write.mode("overwrite").partitionBy("__f").parquet(tmp)
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    Files.createDirectories(Paths.get(d))
    var bytes = 0L
    (0 until files).foreach { f =>
      val parts = listFiles(Paths.get(tmp, s"__f=$f")).filter(_.toString.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = Paths.get(d, f"chunk_$f%05d_p$i%03d.parquet")
        Files.move(p, dst)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 1000L))
        bytes += Files.size(dst)
      }
    }
    rm(tmp)
    bytes
  }

  private def listFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }

  /** Parquet bytes under a table's data directory. */
  private def dataBytes(root: String): Long = {
    val d = Paths.get(root, "data")
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(p => Files.size(p)).sum
      finally s.close()
    }
  }

  private def events(n: Long, convs: Int, seed: Long, tsShiftSec: Long = 0L): DataFrame = {
    val base = java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusSeconds(tsShiftSec)
    Generator.events(spark, n, convs, TurnsPerConv, seed = seed,
      baseTs = base.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
  }

  /** Seeds of the independent input streams of one workload seed. */
  private def subSeed(k: Int): Long = o.seed * 1000003L + k

  // --- correctness ----------------------------------------------------------

  private val RowCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "seq")

  /** Row count and an order-independent hash over every column. */
  private def contentHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(RowCols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(RowCols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The reference: a window-ranked LWW fold of every input event (not the
    * engine's aggregate or in-task fold), deletes dropped.
    */
  private def referenceFold(inputs: DataFrame): DataFrame =
    Lww.latestByKeyWindow(inputs).filter(col("op") =!= Model.OpDelete).drop("op")

  /** Compares the table with the reference fold; returns the lookup keys,
    * chosen by seed among the reference's live rows, with their rows.
    */
  private def checkTable(table: LakeTable, inputs: DataFrame): Seq[org.apache.spark.sql.Row] = {
    val ref = referenceFold(inputs).cache()
    val want = contentHash(ref)
    val got = contentHash(table.read(spark))
    op(want == got, s"table rows/hash ${got} != reference ${want}")
    record("content_hash") = s"${got._1}:${got._2}"
    val keys = ref.orderBy(xxhash64(col("conv_id"), col("turn_idx"), lit(o.seed)))
      .select(RowCols.map(col): _*).limit(Lookups).collect().toSeq
    ref.unpersist()
    keys
  }

  // --- reads ----------------------------------------------------------------

  /** Full folded scans: `ScanWarmups` untimed, then `Scans` timed. Seconds each. */
  private def scans(table: LakeTable): Seq[Double] = {
    (1 to ScanWarmups).foreach(_ => table.read(spark).count())
    settle()
    (1 to Scans).map { _ =>
      val (n, s) = secs(tracer.span("table.scan")(table.read(spark).count()))
      op(n > 0, "scan returned no rows")
      s
    }
  }

  /** Sequential point lookups of existing keys. Each must find exactly one
    * row; the first `CheckedLookups` are also compared with the reference
    * row. Milliseconds per lookupTurn(...).count().
    */
  private def lookups(table: LakeTable, keys: Seq[org.apache.spark.sql.Row]): Seq[Double] = {
    keys.take(LookupWarmups).foreach(k => table.lookupTurn(spark, k.getString(0), k.getInt(1)).count())
    settle()
    val ms = keys.map { k =>
      val (n, s) = secs(tracer.span("table.lookup")(
        table.lookupTurn(spark, k.getString(0), k.getInt(1)).count()))
      op(n == 1, s"lookup ${k.getString(0)}/${k.getInt(1)} returned $n rows")
      s * 1000
    }
    // content check, untimed: looked-up rows equal the reference rows
    keys.take(CheckedLookups).foreach { k =>
      val rows = table.lookupTurn(spark, k.getString(0), k.getInt(1))
        .select(RowCols.map(col): _*).collect()
      op(rows.length == 1 && rows.head == k, s"lookup content ${k.getString(0)}/${k.getInt(1)}")
    }
    ms
  }

  // --- workloads ------------------------------------------------------------

  private var work = Seq.empty[Work]
  private var timedVersions = Seq.empty[Snapshot]
  private var gcBefore = (0L, 0L)
  private var gcAfter = (0L, 0L)

  private def replayCold(): Unit = {
    val d = dir("replay-src")
    // set-up: generation repeated SetupReps times; the median is reported
    val setupSpan = tracer.begin("setup")
    val (_, sessionS) = secs(tracer.span("session.start")(session(cores)))
    var bytes = 0L
    val genS = (1 to SetupReps).map { i =>
      rm(d)
      val (b, s) = secs(tracer.span("changelog.generate")(
        writeChunks(events(ReplayEvents, ReplayConvs, subSeed(1)), d, ReplayFiles, 0L, ReplayEvents)))
      bytes = b
      s
    }
    val changelog = () => readChangelog(d)
    // warm-up: untimed passes of the timed path
    val (_, warmS) = secs(tracer.span("setup.warmup") {
      (1 to ReplayWarmups).foreach { i =>
        val t = new LakeTable(dir(s"replay-warm$i"), Buckets)
        MergeApplier.replayFull(spark, t, changelog(), "replay")
        rm(t.root)
      }
    })
    tracer.end(setupSpan)
    e2e("setup_s") = (sessionS + median(genS) + warmS, "s")
    log(f"setup: session $sessionS%.2fs generate ${genS.mkString(",")} warm-up $warmS%.2fs")
    layer("changelog.generate_s") = (median(genS), "s")
    layer("changelog.events") = (ReplayEvents.toDouble, "count")
    layer("changelog.input_bytes") = (bytes.toDouble, "bytes")
    record("setup") = Map("session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS)

    // timed: repeat the replay into fresh tables for --seconds (min reps)
    settle()
    gcBefore = gc.totals
    gc.arm()
    val reps = mutable.ArrayBuffer.empty[(Work, Double)]
    var last: LakeTable = null
    val loopStart = System.nanoTime()
    tracer.span("operators.replay") {
      while (reps.size < ReplayMinReps || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
        if (last != null) rm(last.root)
        val t = new LakeTable(dir(s"replay-t${reps.size}"), Buckets)
        val a = tracer.nowMs
        val (r, s) = secs(MergeApplier.replayFull(spark, t, changelog(), "replay"))
        val snap = t.currentSnapshot()
        reps += ((Work(a, tracer.nowMs, 0L, snap.map(_.metrics).getOrElse(Map.empty), None, None), s))
        op(r.batchRows > 0 && !r.skipped, "replay applied nothing")
        last = t
      }
    }
    val heap = gc.disarm()
    gcAfter = gc.totals
    val repS = reps.map(_._2).toSeq
    val eps = repS.map(ReplayEvents / _)
    e2e("events_per_s") = (median(eps), "events/s")
    e2e("batch_p50_ms") = (median(repS) * 1000, "ms")
    e2e("batch_p90_ms") = (pct(repS, 0.9) * 1000, "ms")
    e2e("write_amp") = (dataBytes(last.root).toDouble / bytes, "ratio")
    e2e("heap_live_peak_mb") = (heap, "MB")
    work = reps.map(_._1).toSeq
    timedVersions = last.versions().flatMap(last.snapshotAt)
    record("samples_replay_s") = repS
    record("lww_collapse") = ReplayEvents.toDouble / last.currentSnapshot().map(_.totalRows).getOrElse(1L)
    log(f"timed replay: ${reps.size} reps, median ${median(repS)}%.2fs")

    readsAndCheck(last, changelog())

    // scaling_eff is too unsteady between runs to bound, so the single-core
    // leg runs in traced runs only (see the README)
    if (o.trace) replayLocal1(median(eps), changelog)
  }

  /** The single-core baseline: the same job at local[1] (the JIT is warm),
    * after untimed warm-up jobs in the new session.
    */
  private def replayLocal1(eventsPerS: Double, changelog: () => DataFrame): Unit = {
    val single = tracer.span("operators.replay_local1") {
      session(1)
      (1 to SingleCoreWarmups + SingleCoreReps).map { i =>
        val t = new LakeTable(dir(s"replay-1t$i"), Buckets)
        val (r, s) = secs(MergeApplier.replayFull(spark, t, changelog(), "replay"))
        op(r.batchRows > 0, "local[1] replay applied nothing")
        rm(t.root)
        ReplayEvents / s
      }.drop(SingleCoreWarmups)
    }
    log("local[1] replays done")
    layer("scaling_eff") = (eventsPerS / (cores * median(single)), "ratio")
    record("samples_replay_local1_events_per_s") = single
  }

  private def tail(mode: String): Unit = {
    val setupSpan = tracer.begin("setup")
    val (_, sessionS) = secs(tracer.span("session.start")(session(cores)))
    val tailEvents = Triggers * EventsPerTrigger
    def drain(source: String, t: LakeTable, writer: String): Unit =
      CdcStream.runAvailableNow(spark, source, t, dir(s"ckpt-$writer"), writerId = writer,
        maxFilesPerTrigger = 1, mode = mode,
        autoCompactEvery = if (mode == "mor") AutoCompactEvery else 0)
    // set-up: generation + preload, repeated SetupReps times (median
    // reported). The first repetition's inputs and table are the ones timed.
    val setupReps = (1 to SetupReps).map { i =>
      val (pre, src, src1) = (dir(s"preload-src-$i"), dir(s"tail-src-$i"), dir(s"tail-local1-src-$i"))
      val (_, g) = secs(tracer.span("changelog.generate") {
        writeChunks(events(PreloadEvents, TailConvs, subSeed(1)), pre, PreloadFiles, 0L, PreloadEvents)
        val chunks = Triggers + Local1Triggers
        writeChunks(events(chunks * EventsPerTrigger, TailConvs, subSeed(2), tsShiftSec = PreloadEvents)
          .withColumn("seq", col("seq") + PreloadEvents),
          src, chunks, PreloadEvents, chunks * EventsPerTrigger)
        // the last chunks feed the single-core leg, never the timed drain
        Files.createDirectories(Paths.get(src1))
        listFiles(Paths.get(src)).drop(Triggers).foreach(p => Files.move(p, Paths.get(src1).resolve(p.getFileName)))
      })
      val table = new LakeTable(dir(s"table-$i"), TailBuckets)
      val (_, p) = secs(tracer.span("table.preload")(
        MergeApplier.replayFull(spark, table, readChangelog(pre), "preload")))
      log(f"setup rep $i: generate $g%.2fs preload $p%.2fs")
      (g, p, pre, src, src1, table)
    }
    val (_, _, pre, src, src1, table) = setupReps.head
    // warm-up, right before timing: the timed path once, untimed, on the
    // last repetition's throwaway table (a short drain, a scan, a lookup)
    val (_, warmS) = secs(tracer.span("setup.warmup") {
      val (_, _, _, wsrc, _, w) = setupReps.last
      val wdir = dir("warm-src")
      Files.createDirectories(Paths.get(wdir))
      listFiles(Paths.get(wsrc)).take(WarmupTriggers).foreach(p => Files.move(p, Paths.get(wdir).resolve(p.getFileName)))
      drain(wdir, w, "warm")
      w.read(spark).count()
      w.lookupTurn(spark, "conv_0", 0).count()
    })
    setupReps.tail.foreach(r => Seq(r._3, r._4, r._5, r._6.root).foreach(rm))
    log(f"warm-up $warmS%.2fs")
    tracer.end(setupSpan)
    val tailBytes = listFiles(Paths.get(src)).map(p => Files.size(p)).sum
    val preVersion = table.currentSnapshot().map(_.version).getOrElse(0L)
    val genS = setupReps.map(_._1)
    e2e("setup_s") = (sessionS + median(setupReps.map(r => r._1 + r._2)) + warmS, "s")
    layer("changelog.generate_s") = (median(genS), "s")
    layer("changelog.events") = (tailEvents.toDouble, "count")
    layer("changelog.input_bytes") = (tailBytes.toDouble, "bytes")
    record("setup") = Map("session_s" -> sessionS, "generate_s" -> genS,
      "preload_s" -> setupReps.map(_._2), "warmup_s" -> warmS,
      "preload_rows" -> table.currentSnapshot().map(_.totalRows).getOrElse(0L))

    // timed: drain the whole changelog, one chunk per trigger
    val bytesBefore = dataBytes(table.root)
    settle()
    gcBefore = gc.totals
    gc.arm()
    val startMs = tracer.nowMs
    val (_, wall) = secs(tracer.span("streaming.tail")(drain(src, table, "tail")))
    val heap = gc.disarm()
    gcAfter = gc.totals
    log(f"drain $wall%.2fs")
    val triggers = progressOf("tail", startMs)
    attempted += triggers.size
    op(triggers.size == Triggers, s"${triggers.size} triggers with input, expected $Triggers")
    val batchMs = triggers.map(_.batchMs.toDouble)
    e2e("events_per_s") = (tailEvents / wall, "events/s")
    e2e("batch_p50_ms") = (median(batchMs), "ms")
    e2e("batch_p90_ms") = (pct(batchMs, 0.9), "ms")
    e2e("write_amp") = ((dataBytes(table.root) - bytesBefore).toDouble / tailBytes, "ratio")
    e2e("heap_live_peak_mb") = (heap, "MB")
    timedVersions = table.versions().filter(_ > preVersion).flatMap(table.snapshotAt)
    def byBatch(key: String) = timedVersions.filter(_.metrics.contains(key))
      .map(s => s.committed.getOrElse("tail", -1L) -> s.metrics).toMap
    val applied = byBatch("batchRows")
    val compacted = byBatch("compactedRows")
    work = triggers.map(t => Work(t.start, t.start + t.phases.getOrElse("triggerExecution", t.batchMs),
      t.batchId, applied.getOrElse(t.batchId, Map.empty), compacted.get(t.batchId), Some(t)))
    op(work.forall(_.apply.nonEmpty), "a trigger with input committed no snapshot")
    record("samples_batch_ms") = batchMs
    record("tail_wall_s") = wall

    readsAndCheck(table, readChangelog(pre).unionByName(readChangelog(src)))
    crossModeCheck()

    // as for replay_cold, the single-core leg runs in traced runs only
    if (o.trace) tailLocal1(drain(src1, table, _), median(batchMs))
  }

  /** The single-core baseline: the same tail at local[1] for a few more
    * chunks (after every check, so they change nothing that was verified).
    * The first trigger of the new session is a warm-up and not counted.
    */
  private def tailLocal1(drain: String => Unit, batchP50: Double): Unit = {
    val single = tracer.span("streaming.tail_local1") {
      session(1)
      val t0 = tracer.nowMs
      drain("tail1")
      progressOf("tail1", t0).drop(1).map(_.batchMs.toDouble)
    }
    log("local[1] drain done")
    op(single.size == Local1Triggers - 1, s"${single.size} local[1] triggers")
    layer("scaling_eff") = (median(single) / (cores * batchP50), "ratio")
    record("samples_batch_ms_local1") = single
  }

  /** Triggers with input of the tail query of `writer` since `sinceMs`. */
  private def progressOf(writer: String, sinceMs: Double): Seq[TriggerProgress] = {
    ListenerBus.drain(spark.sparkContext)
    progress.all.filter(p => p.query == s"cdc-tail-$writer" && p.start >= sinceMs - 1000 &&
      p.inputRows > 0).sortBy(_.batchId)
  }

  private var scanS = Seq.empty[Double]
  private var lookupMs = Seq.empty[Double]
  private var lookupKeys = Seq.empty[org.apache.spark.sql.Row]
  private var finalTable: LakeTable = _
  // the snapshot the check and the reads ran on; traced tails commit more
  // after it, in their local[1] leg
  private var readSnapshot: Snapshot = _

  private def readsAndCheck(table: LakeTable, inputs: DataFrame): Unit = {
    finalTable = table
    readSnapshot = table.currentSnapshot().get
    lookupKeys = tracer.span("check")(checkTable(table, inputs))
    log("check done")
    scanS = scans(table)
    log("scans done")
    lookupMs = lookups(table, lookupKeys)
    log("lookups done")
    e2e("scan_s") = (median(scanS), "s")
    e2e("lookup_p50_ms") = (median(lookupMs), "ms")
    e2e("lookup_p90_ms") = (pct(lookupMs, 0.9), "ms")
    record("samples_scan_s") = scanS
    record("samples_lookup_ms") = lookupMs
  }

  /** COW and MOR of one seed must converge to the same table: each tail run
    * leaves its hash in the state directory of its build for the other mode,
    * so the check runs when both tails are run with one seed on one build.
    */
  private def crossModeCheck(): Unit = {
    val f = Paths.get(o.state, "state", s"tail-hash-seed${o.seed}.json")
    val mine = record("content_hash").toString
    val prev = if (Files.exists(f)) Json.parseObject(Files.readString(f)) else Map.empty[String, Any]
    val other = if (o.workload == "tail_cow") "tail_mor_read" else "tail_cow"
    prev.get(other).foreach { h =>
      op(h == mine, s"$other hash $h != ${o.workload} hash $mine for seed ${o.seed}")
      record("cross_mode_hash_match") = h == mine
    }
    Files.createDirectories(f.getParent)
    Files.writeString(f, Json.encode(prev + (o.workload -> mine)))
  }

  // --- result ---------------------------------------------------------------

  def run(): String = {
    val burn1 = Host.burn(1)
    val burnN = Host.burn(cores)
    tracer.span(o.workload)(o.workload match {
      case "replay_cold" => replayCold()
      case "tail_cow" => tail("cow")
      case "tail_mor_read" => tail("mor")
    })
    record("host") = Host.provenance(spark.version, cores) ++ Map(
      "burn_1_thread_s" -> f"$burn1%.4f", s"burn_${cores}_threads_s" -> f"$burnN%.4f",
      "cpu_ceiling" -> f"${burn1 / burnN}%.4f")
    if (o.trace) layers(burn1 / burnN)
    spark.stop()

    val correct = failed == 0
    record("checks") = checks.toSeq
    record("failed_ops_ratio") = failed.toDouble / attempted
    val metrics = if (o.trace) layer else e2e
    writeRecord(correct)
    summary()
    Json.encode(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
  }

  private def summary(): Unit = {
    val width = (e2e.keys ++ layer.keys).map(_.length).maxOption.getOrElse(10)
    e2e.foreach { case (k, (v, u)) => System.err.println(s"  ${k.padTo(width, ' ')} $v $u") }
    if (o.trace) layer.foreach { case (k, (v, u)) => System.err.println(s"  ${k.padTo(width, ' ')} $v $u") }
    System.err.println(s"  attempted=$attempted failed=$failed ${checks.mkString("; ")}")
  }

  private def writeRecord(correct: Boolean): Unit = {
    val d = Paths.get(o.state, "records")
    Files.createDirectories(d)
    val all = record ++ Map(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(d.resolve(s"$runId-trace${if (o.trace) 1 else 0}.json"), Json.encode(all))
    if (!o.trace) {
      // untraced figures, kept for the traced run's overhead report
      val f = Paths.get(o.state, "state", s"e2e-${o.workload}.json")
      val prev = if (Files.exists(f)) Json.parseObject(Files.readString(f)) else Map.empty[String, Any]
      Files.createDirectories(f.getParent)
      Files.writeString(f, Json.encode(prev + (o.seed.toString -> e2e.map { case (k, v) => k -> v._1 })))
    }
  }

  // --- per-layer metrics (traced runs) --------------------------------------

  private def layers(cpuCeiling: Double): Unit = {
    val (metrics, extras) = Layers.compute(Observed(tracer, sparkLog,
      if (o.workload == "replay_cold") "operators.replay" else "streaming.tail",
      work, timedVersions, finalTable, readSnapshot, lookupKeys.map(k => (k.getString(0), k.getInt(1))),
      (gcAfter._1 - gcBefore._1, gcAfter._2 - gcBefore._2)))
    metrics.foreach { case (k, v) => layer(k) = v }
    layer("failed_ops_ratio") = (failed.toDouble / attempted, "ratio")
    layer("host.cpu_ceiling") = (cpuCeiling, "ratio")
    record ++= extras
    record("counts_repeat") = countsRepeat(extras("unit_counts_jobs_stages_tasks"))
    record("tracing_overhead") = tracingOverhead()
  }

  /** Whether per-unit job/stage/task counts equal those of the previous
    * traced run of this workload and seed (null when there is none yet).
    */
  private def countsRepeat(counts: Any): Any = {
    val f = Paths.get(o.state, "state", s"counts-${o.workload}-seed${o.seed}.json")
    val mine = Json.encode(counts)
    val prev = if (Files.exists(f)) Some(Files.readString(f)) else None
    Files.createDirectories(f.getParent)
    Files.writeString(f, mine)
    prev.map(_ == mine).orNull
  }

  /** Traced minus untraced end-to-end figures, as a share of the untraced
    * ones, against the untraced run of the same seed (else the median of all
    * untraced runs of this workload in the checkout).
    */
  private def tracingOverhead(): Map[String, Any] = {
    val f = Paths.get(o.state, "state", s"e2e-${o.workload}.json")
    if (!Files.exists(f)) return Map("note" -> "no untraced run of this workload in the checkout yet")
    val runs = Json.parseObject(Files.readString(f)).map { case (seed, m) =>
      seed -> m.asInstanceOf[java.util.Map[String, Object]].asScala.map { case (k, v) =>
        k -> v.asInstanceOf[Number].doubleValue }.toMap }
    val base = runs.get(o.seed.toString).map(Seq(_)).getOrElse(runs.values.toSeq)
    e2e.collect { case (k, (v, _)) if base.forall(_.contains(k)) =>
      val b = median(base.map(_(k)))
      k -> (if (b == 0) 0.0 else (v - b) / b)
    }.toMap ++ Map("baseline_seeds" -> (if (runs.contains(o.seed.toString)) Seq(o.seed.toString) else runs.keys.toSeq))
  }
}

package graft

import graft.changelog.Generator
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.LakeTable
import org.apache.spark.sql.{Column, SparkSession}

/** Per-round benchmark. Prints ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
  *  "cdc":{...},"scaling":{...},"recall":{...}}
  *
  * Measurement method (this virtualized host has minutes-scale hypervisor
  * steal — load average 0.2→28 swings with zero local processes; the same
  * binary measured 478k vs 55k ev/s two hours apart): steal is ONE-SIDED
  * noise (it only adds wall time), so every published throughput is the
  * per-mode MIN over ≥3 interleaved rounds, with every raw sample reported.
  * Single-shot numbers are weather lottery and are not published.
  *
  * Sections:
  *   - queries: wall-time of every SparkEntry query on SPARK_GRAFT_SF_DIR
  *   - cdc: the headline BASELINE.json metric — interleaved rounds of
  *     {cold replay, COW tail, MOR tail, MOR tail + auto-compaction}; per
  *     mode: min + samples array. MOR+auto also reports the max delta depth
  *     the manifest list reached (the LSM steady state the 10^10 story
  *     relies on).
  *   - scaling: the same replay job at local[N] vs local[4N] (default 4→16),
  *     interleaved rounds, per-level min, ≥5 rounds, stability-based
  *     stopping; a Spark-free CPU burn probe per round calibrates host
  *     quietness. Efficiency = thr(4N) / (4 × thr(N)) — the sandbox evidence
  *     for the N→4N ≥ 0.8 scaling rule (no real cluster here; BENCH.md has
  *     the method and why 4→16 rather than 8→32 on this host). The JSON
  *     carries `exit` (stable|cap|budget) and `marker`
  *     (ok|host_never_quiet): a final efficiency outside [0.8, 1.05] is
  *     published as evidence of host weather, never as an engine number.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: every core),
  * SPARK_GRAFT_BENCH_EVENTS (default 10M), SPARK_GRAFT_CDC_ROUNDS (default
  * 3), SPARK_GRAFT_SCALING_EVENTS (default 2×), SPARK_GRAFT_SCALING_CORES
  * ("4,16"), SPARK_GRAFT_SCALING=0 to skip the scaling section,
  * SPARK_GRAFT_ONLY_SCALING=1 for just it, SPARK_GRAFT_RECALL=0 to skip
  * recall.
  */
object Bench {
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def progress(msg: String): Unit =
    System.err.println(f"[bench +${(System.nanoTime() - start) / 1e9}%.1fs] $msg")
  private val start = System.nanoTime()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def jsonArr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.2f").mkString("[", ",", "]")

  private def rmDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  /** Publish the result line on stdout AND as a file artifact: the round
    * driver's stdout capture truncated the r03 record (kept only the last
    * bytes of the line), losing the sweep total and the alphabetically-early
    * query timings; the file copy makes the record un-truncatable.
    */
  private def emit(line: String, defaultPath: String = "BENCH.out.json"): Unit = {
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultPath)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Exception => System.err.println(s"[bench] artifact write failed: $e") }
  }

  /** The scaling workload: full cold-start replay (scan → key shuffle →
    * in-task LWW fold + bucket write → commit) of a pre-generated parquet
    * changelog.
    * Returns (rows, sec); the throwaway table is deleted AFTER timing so the
    * multi-round bench (up to ~20 replays) does not fill /tmp.
    */
  private def replayJob(spark: SparkSession, changelogDir: String): (Long, Double) = {
    val dir = tmp("bench-table")
    val table = new LakeTable(dir, numBuckets = 32)
    val changelog = spark.read
      .schema(graft.model.Model.changeEventSchema).parquet(changelogDir)
    val r = timed(MergeApplier.replayFull(spark, table, changelog).batchRows)
    rmDir(dir)
    r
  }

  private val burnSink = new java.util.concurrent.atomic.AtomicLong(0)

  /** Spark-free host-quietness probe: `threads` threads each run the same
    * fixed arithmetic loop; on a quiet host with ≥ threads free cores the
    * wall time is the single-thread loop time, and hypervisor steal inflates
    * it proportionally. Relative probe times across rounds calibrate which
    * scaling samples ran in quiet windows (BENCH.md "pure-CPU burn").
    */
  private def burnProbe(threads: Int, itersPerThread: Long = 300000000L): Double = {
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < itersPerThread) {
          x = x * 6364136223846793005L + 1442695040888963407L; i += 1
        }
        burnSink.addAndGet(x) // defeat dead-code elimination
      })
      th.setDaemon(true); th
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val benchEvents = sys.env.getOrElse("SPARK_GRAFT_BENCH_EVENTS", "10000000").toLong
    val cdcRounds = math.max(1, sys.env.getOrElse("SPARK_GRAFT_CDC_ROUNDS", "3").toInt)
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"
    // Scaling pair N → 4N. Default 4→16 rather than 8→32: this host's own
    // pure-CPU ceiling at 8→32 is ~0.75 of ideal (hypervisor steal once all
    // 32 vCPUs are loaded), which would mis-measure the ENGINE's scaling;
    // 4→16 leaves headroom so the engine, not the box, is what's measured.
    val Array(lowCores, highCores) = sys.env.getOrElse("SPARK_GRAFT_SCALING_CORES",
      s"${math.max(1, cpus / 8)},${math.max(4, cpus / 2)}").split(",").map(_.toInt)

    val onlyScaling = sys.env.getOrElse("SPARK_GRAFT_ONLY_SCALING", "0") == "1"

    // ---- prepare shared synthetic changelog (excluded from timings) ----
    progress("prep: generating changelogs")
    val prep = Harness.session("graft-bench", cpus)
    val changelogDir = tmp("bench-changelog")
    val numConvs = math.max(1000, (benchEvents / 200).toInt)
    if (!onlyScaling)
      Generator.events(prep, benchEvents, numConvs, turnsPerConv = 25, seed = 1234)
        .write.mode("overwrite").parquet(changelogDir)
    val scalingEvents = sys.env.getOrElse("SPARK_GRAFT_SCALING_EVENTS",
      (2 * benchEvents).toString).toLong
    val scalingDir = tmp("bench-scaling")
    Generator.events(prep, scalingEvents, numConvs, turnsPerConv = 25, seed = 4321)
      .write.mode("overwrite").parquet(scalingDir)
    val warmupDir = tmp("bench-warmup")
    Generator.events(prep, benchEvents / 10, numConvs / 10, turnsPerConv = 25, seed = 99)
      .write.mode("overwrite").parquet(warmupDir)
    // tail input: chunks in arrival order, each chunk physically 16 part
    // files (a real binlog tail pulls many files per trigger — one fat file
    // per chunk would starve the merge's map side to 2 tasks and measure the
    // miniature, not the engine)
    val tailFiles = 10
    val tailParts = 16
    val tailMft = 2 * tailParts // 2 chunks per trigger, as before
    val tailDir = tmp("bench-tail")
    if (!onlyScaling)
      Generator.writeChangelog(prep, tailDir, benchEvents / 2, numConvs,
        turnsPerConv = 25, numFiles = tailFiles, seed = 555, partsPerChunk = tailParts)
    // big-table regime input: a SMALL event stream (benchEvents/20 in 5
    // batches) tailed into a PRELOADED table — the 10^10 steady state where
    // table ≫ batch, which is where MOR's O(batch) appends beat COW's
    // O(touched-bucket) rewrites (at the main tail's ~1:1 table/batch ratio
    // the two modes converge by construction)
    val bigTailEvents = benchEvents / 20
    val bigTailDir = tmp("bench-bigtail")
    if (!onlyScaling)
      Generator.writeChangelog(prep, bigTailDir, bigTailEvents, numConvs,
        turnsPerConv = 25, numFiles = tailFiles, seed = 777, partsPerChunk = 4)
    // multi-writer input: the SAME tail changelog sharded by BUCKET OWNER
    // (bucket % W) — how a real deployment splits one binlog across W ingest
    // writers. Key-hash routing makes each COW writer's touched-bucket set
    // disjoint from every other's, so all its lost commit races rebase as
    // pure metadata (no recompute); sharding by conv_id instead would spread
    // every writer across ALL buckets and turn every race into a re-run.
    val mwWriters = 4
    val mwChunks = 5
    val mwDir = tmp("bench-mw")
    if (!onlyScaling) {
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      prep.read.schema(graft.model.Model.changeEventSchema).parquet(tailDir)
        .withColumn("owner",
          pmod(hash(col("conv_id"), col("turn_idx")), lit(32)) % mwWriters)
        .withColumn("chunk", pmod(col("seq"), lit(mwChunks)))
        .repartition(col("owner"), col("chunk"))
        .write.mode("overwrite").partitionBy("owner", "chunk").parquet(mwDir)
    }
    prep.stop()
    progress("prep done")
    val inputDirs = Seq(changelogDir, scalingDir, warmupDir, tailDir, bigTailDir, mwDir)

    // ---- scaling: identical replay at N and 4N cores ----
    var scalingJson = "null"
    if (doScaling) {
      def one(cores: Int, warm: Boolean): Double = {
        val s = Harness.session("graft-bench", cores)
        if (warm) { progress(s"scaling: warmup local[$cores]"); replayJob(s, warmupDir) }
        progress(s"scaling: measuring local[$cores]")
        val t = replayJob(s, scalingDir)._2
        s.stop()
        t
      }
      // Adaptive sampling: steal only ADDS wall time, so the per-level min
      // converges to the engine's host-idle cost from above as samples
      // accrue. ≥5 interleaved rounds; stop when the min-based estimate is
      // STABLE (unchanged within eps across consecutive rounds — mins are
      // monotone, so stability means new samples stopped improving either
      // level), up to 8 rounds / a 15-minute budget. The stopping rule is
      // estimate-independent (no acceptance band — round-2 advisor note):
      // it decides only when to stop paying for more samples, never which
      // samples count; ALL samples and per-round burn probes are reported.
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
      def effNow: Double = {
        (scalingEvents / rounds.map(_._2).min) /
          ((scalingEvents / rounds.map(_._1).min) * (highCores.toDouble / lowCores))
      }
      val minRounds = 5
      val maxRounds = 8
      val budgetNs = System.nanoTime() + 15L * 60 * 1000000000L
      var effPrev = Double.NaN
      var stableRounds = 0
      var exit = ""
      while (exit.isEmpty) {
        probes += burnProbe(highCores)
        val warm = rounds.isEmpty
        rounds += ((one(lowCores, warm), one(highCores, warm)))
        val e = effNow
        if (rounds.size >= 2)
          progress(f"scaling: round ${rounds.size}, min-based efficiency $e%.3f, burn ${probes.last}%.2fs")
        // two consecutive non-improving rounds, not one: a single round that
        // fails to beat either min is common under any noise level and must
        // not freeze a storm-skewed estimate. The stable exit additionally
        // requires a QUIET host for the contributing round (burn probe within
        // 25% of the best probe observed): a sustained steal storm inflates
        // both levels proportionally and could otherwise freeze an in-band
        // but weather-skewed efficiency as marker=ok — under a storm we keep
        // sampling until the cap/budget exits take over.
        val quietRound = probes.last <= probes.min * 1.25
        stableRounds =
          if (math.abs(e - effPrev) < 0.015 && quietRound) stableRounds + 1 else 0
        if (rounds.size >= minRounds && stableRounds >= 2) exit = "stable"
        else if (rounds.size >= maxRounds) exit = "cap"
        else if (System.nanoTime() > budgetNs && rounds.size >= 3) exit = "budget"
        effPrev = e
      }
      val tLow = rounds.map(_._1).min
      val tHigh = rounds.map(_._2).min
      val samples = rounds.map { case (a, b) => f"[$a%.1f,$b%.1f]" }.mkString("[", ",", "]")
      val thrLow = scalingEvents / tLow
      val thrHigh = scalingEvents / tHigh
      val eff = thrHigh / (thrLow * (highCores.toDouble / lowCores))
      // Plausibility annotation, not a gate: efficiency outside [0.8, 1.05]
      // (super-linear = the slow level never saw a quiet window) marks the
      // RECORD as host weather — it is never presented as an engine number.
      val marker = if (eff >= 0.8 && eff <= 1.05) "ok" else "host_never_quiet"
      scalingJson = f"""{"events":$scalingEvents,"samples":$samples,"burnProbesSec":${jsonArr(probes.toSeq)},"rounds":${rounds.size},"exit":"$exit","marker":"$marker","cores_low":$lowCores,"cores_high":$highCores,"sec_low":$tLow%.2f,"sec_high":$tHigh%.2f,"eventsPerSec_low":${thrLow.toLong},"eventsPerSec_high":${thrHigh.toLong},"efficiency":$eff%.3f}"""
    }

    if (onlyScaling) {
      // distinct default so a later full-bench run in the same directory
      // cannot clobber this record (and vice versa)
      emit(s"""{"metric":"scaling","scaling":$scalingJson}""",
        defaultPath = "BENCH.scaling.out.json")
      inputDirs.foreach(rmDir)
      return
    }

    // ---- main session: CDC throughput, interleaved min-based rounds ----
    val spark = Harness.session("graft-bench", cpus)
    replayJob(spark, warmupDir) // JIT/codegen warmup for the merge path

    val tailEvents = benchEvents / 2
    val autoCompactEvery = 3
    var replayRows = 0L
    var morAutoMaxDepth = 0
    var morAutoCompactions = 0L
    var lastMorTable: LakeTable = null
    val replayS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cowS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val morS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val morAutoS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runTail(mode: String, autoEvery: Int): (LakeTable, String, Double) = {
      val t = new LakeTable(tmp(s"bench-$mode-table"), numBuckets = 32)
      val ckpt = tmp(s"bench-$mode-ckpt")
      val (_, sec) = timed {
        CdcStream.runAvailableNow(spark, tailDir, t, ckpt,
          maxFilesPerTrigger = tailMft, mode = mode, autoCompactEvery = autoEvery)
      }
      (t, ckpt, sec)
    }
    // ---- replication leg: tail the COW table's change data feed (the DSv2
    // lake-cdf streaming source) into a replica table, exactly-once. The
    // feed carries per-version-window WINNERS (not raw events), so the
    // events/s number is the events-EQUIVALENT rate — same basis as the
    // tail legs, directly comparable: replication keeping up with the tail
    // means replicateEventsPerSec >= tailEventsPerSec.
    val replS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var replRowsOk = true
    var replVersions = 0L
    def runReplicate(src: LakeTable): Double = {
      val dst = new LakeTable(tmp("bench-repl-table"), numBuckets = 32)
      val ckpt = tmp("bench-repl-ckpt")
      replVersions = src.currentSnapshot().map(_.version).getOrElse(0L)
      val (_, sec) = timed {
        graft.streaming.Replicate.runAvailableNow(
          spark, src.root, dst, ckpt, maxVersionsPerTrigger = 8)
      }
      replRowsOk &&= dst.read(spark).count() == src.read(spark).count()
      rmDir(dst.root); rmDir(ckpt)
      sec
    }
    var bigTableRows = 0L
    val bigCowS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bigMorS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runBigTail(mode: String): Double = {
      val dir = tmp(s"bench-big-$mode-table")
      val t = new LakeTable(dir, numBuckets = 32)
      // preload OUTSIDE the timed window: this is the pre-existing table
      bigTableRows = MergeApplier.replayFull(spark, t,
        spark.read.schema(graft.model.Model.changeEventSchema)
          .parquet(changelogDir), "preload").batchRows
      val ckpt = tmp(s"bench-big-$mode-ckpt")
      val (_, sec) = timed {
        CdcStream.runAvailableNow(spark, bigTailDir, t, ckpt,
          maxFilesPerTrigger = 8, mode = mode) // 10 chunks × 4 parts → 5 batches
      }
      rmDir(dir); rmDir(ckpt)
      sec
    }
    // ---- multi-writer leg: W concurrent writers, ONE shared table ----
    // Total throughput across writers; the conflict ledger (rebases vs
    // re-runs) is read back from snapshot history. Expected state = the
    // single LWW fold of the whole tail input (order-independence makes any
    // interleaving converge) — checked every round.
    val mwExpectedLive = {
      import org.apache.spark.sql.functions.col
      graft.operators.Lww.latestByKeyAgg(
        spark.read.schema(graft.model.Model.changeEventSchema).parquet(tailDir))
        .filter(col("op") =!= graft.model.Model.OpDelete).count()
    }
    val mwCowS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mwMorS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var mwRebases = 0L
    var mwReruns = 0L
    var mwRowsOk = true
    def runMw(mode: String): Double = {
      val dir = tmp(s"bench-mw-$mode-table")
      val t = new LakeTable(dir, numBuckets = 32)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val (_, sec) = timed {
        val threads = (0 until mwWriters).map { i =>
          val th = new Thread(() => {
            try (0 until mwChunks).foreach { j =>
              val df = spark.read.schema(graft.model.Model.changeEventSchema)
                .parquet(s"$mwDir/owner=$i/chunk=$j")
              MergeApplier.applyBatch(spark, t, df, s"w$i", j.toLong, mode)
            } catch { case e: Throwable => failures.add(e) }
          })
          th.start(); th
        }
        threads.foreach(_.join())
      }
      if (!failures.isEmpty) throw failures.peek()
      val snaps = t.versions().flatMap(t.snapshotAt)
      mwRebases += snaps.count(_.metrics.contains("rebasedFrom"))
      mwReruns += snaps.count(_.metrics.contains("rerunAttempt"))
      mwRowsOk &&= t.read(spark).count() == mwExpectedLive
      rmDir(dir)
      sec
    }
    // ---- view-refresh leg: O(Δ) incremental vs full rebuild ----
    // ONE preloaded base (the 10M-event replay state) + a bootstrapped stats
    // view; each round lands a small delta batch on the base, then times the
    // incremental refresh against a from-scratch rebuild of a throwaway view
    // THROUGH THE SAME CODE PATH — the ratio is the O(Δ) claim, measured.
    import org.apache.spark.sql.functions.{col, lit}
    val viewBase = new LakeTable(tmp("bench-view-base"), numBuckets = 32)
    val viewTable = new LakeTable(tmp("bench-view"), numBuckets = 32)
    var viewBaseRows = MergeApplier.replayFull(spark, viewBase,
      spark.read.schema(graft.model.Model.changeEventSchema).parquet(changelogDir),
      "preload").batchRows
    var viewFrom = graft.operators.IncrementalAgg.refreshIntoTable(
      spark, viewBase, viewTable, 0L)
    val viewIncrS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val viewFullS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bigEvents = spark.read.schema(graft.model.Model.changeEventSchema)
      .parquet(bigTailDir)
    def runViewRefresh(r: Int): Unit = {
      // the delta is a ~1% CONVERSATION slice: view maintenance cost is
      // O(touched buckets + Δ), so the leg must model the real tail regime
      // (a batch clustered on few conversations), not a full-key-space spray
      // whose touched-bucket set saturates and erases the gap being measured
      import org.apache.spark.sql.functions.{hash, pmod}
      MergeApplier.applyBatch(spark, viewBase,
        bigEvents.filter(
          pmod(hash(col("conv_id")), lit(100)) === lit((r - 1) % 100)),
        "vr", r.toLong)
      val (_, incrSec) = timed {
        viewFrom = graft.operators.IncrementalAgg.refreshIntoTable(
          spark, viewBase, viewTable, viewFrom)
      }
      viewIncrS += incrSec
      val fresh = new LakeTable(tmp(s"bench-view-full-$r"), numBuckets = 32)
      val (_, fullSec) = timed {
        graft.operators.IncrementalAgg.refreshIntoTable(spark, viewBase, fresh, 0L)
      }
      viewFullS += fullSec
      rmDir(fresh.root)
    }
    (1 to cdcRounds).foreach { r =>
      progress(s"cdc round $r/$cdcRounds: replay")
      val (rows, sec) = replayJob(spark, changelogDir)
      replayRows = rows; replayS += sec
      progress(s"cdc round $r/$cdcRounds: tail COW")
      val (cowT, cowCk, cowSec) = runTail("cow", 0)
      cowS += cowSec
      progress(s"cdc round $r/$cdcRounds: replicate via lake-cdf stream")
      replS += runReplicate(cowT)
      rmDir(cowT.root); rmDir(cowCk)
      progress(s"cdc round $r/$cdcRounds: tail MOR")
      val (morT, morCk, morSec) = runTail("mor", 0)
      morS += morSec; rmDir(morCk)
      if (lastMorTable != null) rmDir(lastMorTable.root) // only the last survives
      lastMorTable = morT
      progress(s"cdc round $r/$cdcRounds: tail MOR + auto-compaction")
      val (autoT, autoCk, autoSec) = runTail("mor", autoCompactEvery)
      morAutoS += autoSec
      // steady-state evidence: deepest the manifest list ever got (post-hoc
      // over the retained snapshot history — exact, no mid-run polling) and
      // how many auto-compactions ran
      val autoSnaps = autoT.versions().flatMap(autoT.snapshotAt)
      val depths = autoSnaps.map(_.manifests.count(_.delta))
      morAutoMaxDepth = math.max(morAutoMaxDepth, if (depths.isEmpty) 0 else depths.max)
      morAutoCompactions += autoSnaps.count(_.metrics.contains("compactedRows"))
      rmDir(autoT.root); rmDir(autoCk)
      progress(s"cdc round $r/$cdcRounds: big-table tail COW")
      bigCowS += runBigTail("cow")
      progress(s"cdc round $r/$cdcRounds: big-table tail MOR")
      bigMorS += runBigTail("mor")
      progress(s"cdc round $r/$cdcRounds: multi-writer COW x$mwWriters")
      mwCowS += runMw("cow")
      progress(s"cdc round $r/$cdcRounds: multi-writer MOR x$mwWriters")
      mwMorS += runMw("mor")
      progress(s"cdc round $r/$cdcRounds: view refresh (incremental vs full)")
      runViewRefresh(r)
    }
    val viewRows = viewTable.currentSnapshot().map(_.totalRows).getOrElse(0L)
    rmDir(viewBase.root); rmDir(viewTable.root)

    // ---- storage-partitioned join vs shuffled join ----
    // Same two same-layout tables, same join, same strategy confs (broadcast
    // off): catalog-loaded scans report the bucket transform through
    // LakeCatalog's function catalog and join with ZERO exchanges;
    // path-loaded scans cannot resolve the transform and shuffle BOTH sides.
    // The delta is pure shuffle cost — the thing SPJ deletes at any scale.
    progress("spj: building join tables")
    val spjBase = tmp("bench-spj")
    val spjA = new LakeTable(s"$spjBase/a", numBuckets = 32)
    val spjB = new LakeTable(s"$spjBase/b", numBuckets = 32)
    val spjCl = spark.read.schema(graft.model.Model.changeEventSchema).parquet(changelogDir)
    MergeApplier.replayFull(spark, spjA, spjCl, "spj")
    MergeApplier.replayFull(spark, spjB, spjCl.filter(col("seq") % 2 === 0), "spj")
    spark.conf.set("spark.sql.catalog.benchspj", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.benchspj.base", spjBase)
    def spjJoinCount(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long =
      a.join(b.select(col("conv_id"), col("turn_idx"), col("text").as("text_b")),
        Seq("conv_id", "turn_idx")).count()
    val spjS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val spjShufS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spjRows = 0L
    graft.operators.Par.withSessionConf(spark, Map(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")) { (1 to 3).foreach { r =>
      progress(s"spj round $r/3: partitioned vs shuffled join")
      val (r1, s1) = timed {
        spjJoinCount(spark.table("benchspj.a"), spark.table("benchspj.b")) }
      val (r2, s2) = timed { spjJoinCount(
        spark.read.format("lake").option("path", spjA.root).load(),
        spark.read.format("lake").option("path", spjB.root).load()) }
      require(r1 == r2, s"SPJ and shuffled join disagree: $r1 vs $r2")
      spjRows = r1; spjS += s1; spjShufS += s2
    } }
    // ---- SQL MERGE leg: group-based row-level rewrite, group-pruned ----
    // A MERGE INTO touching ONE conversation must rewrite O(that
    // conversation's buckets), never the table: the `_bucket` runtime group
    // filter is the 10^10-scale contract. rowsWritten (the replaced groups'
    // full content) over wall time is the honest cost; replacedBuckets < 32
    // is the pruning proof, recorded off the commit's own metrics.
    val sqlMergeS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var sqlMergeSrcRows = 0L
    var sqlMergeRowsWritten = 0L
    var sqlMergeReplaced = 0L
    var sqlMergeTableRows = 0L
    locally {
      import org.apache.spark.sql.functions.concat
      val convs = spark.table("benchspj.a").select("conv_id").distinct()
        .orderBy("conv_id").limit(2).collect().map(_.getString(0))
      (1 to 2).foreach { r =>
        progress(s"sql merge round $r/2: group-pruned MERGE INTO")
        val conv = convs(r - 1)
        sqlMergeSrcRows = spark.table("benchspj.a")
          .filter(col("conv_id") === conv).count()
        val (_, sec) = timed {
          spark.sql(s"""MERGE INTO benchspj.a t USING (
              SELECT conv_id, turn_idx, role, concat('m', text) AS text,
                     tool, ts, seq + 1000000 AS seq
              FROM benchspj.a WHERE conv_id = '$conv') s
            ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
        }
        sqlMergeS += sec
        val snap = spjA.currentSnapshot().get
        sqlMergeRowsWritten = snap.metrics.getOrElse("batchRows", -1L)
        sqlMergeReplaced = snap.metrics.getOrElse("replacedBuckets", -1L)
        sqlMergeTableRows = snap.totalRows
        require(sqlMergeReplaced > 0 && sqlMergeReplaced < 32,
          s"MERGE group pruning regressed: replaced $sqlMergeReplaced of 32 buckets")
      }
    }
    rmDir(spjBase)
    // ---- point-lookup leg: manifest-stats FILE SKIPPING on the delta-deep
    // raw-MOR table (before compaction — the regime where a bucket holds
    // base + many delta files). Honest comparison: the same lookups with the
    // skip disabled open every file of the key's bucket. lkFilesTotal vs
    // lkFilesRead is the metadata-derived skip ratio (files the bucket holds
    // vs files whose key bounds admit the key).
    progress("cdc: point-lookup file-skipping leg")
    val lookupKeys: Seq[(String, Int)] = spark.read
      .schema(graft.model.Model.changeEventSchema).parquet(changelogDir)
      .select("conv_id", "turn_idx").where(col("turn_idx") === 0)
      .distinct().orderBy("conv_id").limit(20).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    val snapLk = lastMorTable.currentSnapshot().get
    var lkFilesTotal = 0L
    var lkFilesBounds = 0L // admitted by min/max key bounds alone
    var lkFilesRead = 0L // admitted by bounds + conv bloom (what lookups open)
    var lkFilesTruth = 0L // ground truth: files that really hold the key
    lookupKeys.foreach { case (c, t) =>
      val b = lastMorTable.bucketFor(c, t)
      val fs = lastMorTable.resolveFiles(snapLk, Some(Set(b))).getOrElse(b, Seq.empty)
      lkFilesTotal += fs.size
      lkFilesBounds += fs.count(_.stats.forall(st =>
        t >= st.minTurn && t <= st.maxTurn && st.boundsContainConv(c)))
      lkFilesRead += fs.count(_.stats.forall(_.mightContain(c, t)))
      lkFilesTruth += fs.count(f => !spark.read.parquet(f.path)
        .filter(col("conv_id") === c && col("turn_idx") === t).isEmpty)
    }
    def runLookups(): Double = timed {
      lookupKeys.foreach { case (c, t) =>
        lastMorTable.lookupTurn(spark, c, t).count()
      }
    }._2
    val lkSkipS = (1 to 3).map(_ => runLookups())
    lastMorTable.fileSkipping = false
    val lkFullS = (1 to 3).map(_ => runLookups())
    lastMorTable.fileSkipping = true
    // change-feed read cost on the raw-MOR table BEFORE compaction: diff the
    // first tail commit against the head — the incremental-consumer path
    // (manifest-pruned bucket diff, both endpoints folded in-task)
    val (feedRows, feedSec) = timed {
      graft.operators.ChangeFeed.changesSince(spark, lastMorTable, 1L).count()
    }
    // ---- spill-fold leg: the sort-spill delta fold vs the hash fold on the
    // SAME delta-deep raw-MOR table. A 0-byte spill threshold forces the
    // policy on EVERY bucket — the worst case of the graceful-degradation
    // path for a bucket that outgrew its executor (cdc_spill_fold gates its
    // correctness at sf0.01; this is its cost at bench scale). The measured
    // gap is the narrow in-task sort's copy+spill overhead — the price of
    // keeping an oversized bucket readable at O(1) task memory.
    progress("cdc: spill-fold vs hash-fold read leg")
    var spillFoldRows = 0L
    val hashFoldS = (1 to 3).map { _ =>
      val (n, sec) = timed { lastMorTable.read(spark).count() }
      spillFoldRows = n; sec
    }
    require(graft.operators.BucketLocal.lastSpilled.isEmpty,
      "hash-fold leg unexpectedly took the spill branch")
    val spillFoldS = graft.operators.Par.withSessionConf(spark,
        Map(graft.operators.BucketLocal.SpillFoldBytesKey -> "0")) {
      (1 to 3).map { _ =>
        val (n, sec) = timed { lastMorTable.read(spark).count() }
        require(n == spillFoldRows,
          s"spill fold disagrees with hash fold: $n vs $spillFoldRows rows")
        sec
      }
    }
    require(graft.operators.BucketLocal.lastSpilled.nonEmpty,
      "spill-fold leg did not take the spill branch")
    // ---- SELECTIVE compaction: fold 4 of 32 buckets first — the
    // maintenance unit for a skewed tail (hot buckets go delta-deep, the
    // rest shouldn't pay). Cost should scale ~|targets|/|table| vs the full
    // pass that follows (which then rewrites the remaining 28 + 4 clean).
    progress("cdc: selective compaction leg (4 of 32 buckets)")
    val selBuckets = Set(0, 1, 2, 3)
    val (selCompactRows, selCompactSec) = timed {
      MergeApplier.compactBucketsRetainTombstones(spark, lastMorTable, selBuckets)
    }
    // final compaction cost of a raw-MOR table (the amortized read-side debt)
    val (_, compactSec) = timed {
      MergeApplier.compact(spark, lastMorTable,
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
    }
    // ---- text-search leg: token-bloom file skipping (transcript grep).
    // Index build = one more full rewrite of the now-compacted table, so
    // textIndexSec vs morCompactSec is the tokenization+bloom overhead of
    // the opt-in index. Search honesty: a corpus-common token ("purchase",
    // every file admits — bloom cannot and must not prune) vs an absent
    // token (pure metadata answer). Both also run with skipping disabled.
    progress("cdc: text-search token-bloom leg")
    val (_, textIndexSec) = timed {
      MergeApplier.compactRetainTombstones(spark, lastMorTable, textIndex = true)
    }
    def runSearch(tok: String): Double =
      timed { lastMorTable.searchText(spark, tok).count() }._2
    val searchHitS = (1 to 3).map(_ => runSearch("purchase"))
    val searchMissS = (1 to 3).map(_ => runSearch("zzz-absent-token"))
    lastMorTable.fileSkipping = false
    val searchHitFullS = (1 to 3).map(_ => runSearch("purchase"))
    val searchMissFullS = (1 to 3).map(_ => runSearch("zzz-absent-token"))
    lastMorTable.fileSkipping = true
    val snapTs = lastMorTable.currentSnapshot().get
    val tsEntries = lastMorTable.resolveFiles(snapTs).values.flatten.toSeq
    val searchFilesTotal = tsEntries.size
    val searchFilesMissAdmitted =
      tsEntries.count(_.stats.exists(_.mightContainToken("zzz-absent-token")))
    // ---- metadata-only COUNT leg: the table is now fully compacted with an
    // all-expiring watermark (tombstoneRows == 0 recorded), so COUNT(*)
    // plans as the one-row LakeAggScan — zero data-file opens. The honest
    // comparison forces the real scan with a pushdown-blocking residual
    // filter that keeps every row.
    progress("cdc: metadata-count leg")
    def lakeDf() = spark.read.format("lake").option("path", lastMorTable.root).load()
    val countMetaPushed = lakeDf().groupBy().count()
      .queryExecution.executedPlan.toString.contains("LakeAggScan")
    val countRows = lakeDf().count()
    val countMetaS = (1 to 3).map(_ => timed { lakeDf().count() }._2)
    val countScanS = (1 to 3).map(_ => timed {
      lakeDf().filter(org.apache.spark.sql.functions.length(col("conv_id")) >= 0).count() }._2)
    require(countRows == lakeDf().filter(org.apache.spark.sql.functions.length(col("conv_id")) >= 0).count(),
      "metadata count disagrees with the scan count")
    rmDir(lastMorTable.root)
    val replaySec = replayS.min
    val tailSec = cowS.min
    val morSec = morS.min
    val morAutoSec = morAutoS.min
    val bigCowSec = bigCowS.min
    val bigMorSec = bigMorS.min
    val mwCowSec = mwCowS.min
    val mwMorSec = mwMorS.min
    val tailBatches = (tailFiles * tailParts + tailMft - 1) / tailMft // derived, not hardcoded
    val cdcJson = f"""{"rounds":$cdcRounds,"replayEvents":$benchEvents,"replaySamples":${jsonArr(replayS.toSeq)},"replaySec":$replaySec%.2f,"replayEventsPerSec":${(benchEvents / replaySec).toLong},"replayTableRows":$replayRows,"tailEvents":$tailEvents,"tailBatches":$tailBatches,"tailCowSamples":${jsonArr(cowS.toSeq)},"tailSec":$tailSec%.2f,"tailEventsPerSec":${(tailEvents / tailSec).toLong},"tailMorSamples":${jsonArr(morS.toSeq)},"tailMorSec":$morSec%.2f,"tailMorEventsPerSec":${(tailEvents / morSec).toLong},"tailMorAutoSamples":${jsonArr(morAutoS.toSeq)},"tailMorAutoSec":$morAutoSec%.2f,"tailMorAutoEventsPerSec":${(tailEvents / morAutoSec).toLong},"tailMorAutoMaxDeltaDepth":$morAutoMaxDepth,"tailMorAutoCompactions":$morAutoCompactions,"replicateSamples":${jsonArr(replS.toSeq)},"replicateSec":${replS.min}%.2f,"replicateEventsPerSec":${(tailEvents / replS.min).toLong},"replicateVersions":$replVersions,"replicateRowsOk":$replRowsOk,"feedRows":$feedRows,"feedSec":$feedSec%.2f,"spillFoldRows":$spillFoldRows,"hashFoldSamples":${jsonArr(hashFoldS)},"hashFoldSec":${hashFoldS.min}%.3f,"spillFoldSamples":${jsonArr(spillFoldS)},"spillFoldSec":${spillFoldS.min}%.3f,"lookupKeys":${lookupKeys.size},"lookupFilesTotal":$lkFilesTotal,"lookupFilesBounds":$lkFilesBounds,"lookupFilesRead":$lkFilesRead,"lookupFilesTruth":$lkFilesTruth,"lookupSkipSec":${lkSkipS.min}%.3f,"lookupFullSec":${lkFullS.min}%.3f,"lookupSkipSamples":${jsonArr(lkSkipS)},"lookupFullSamples":${jsonArr(lkFullS)},"selCompactBuckets":${selBuckets.size},"selCompactRows":$selCompactRows,"selCompactSec":$selCompactSec%.2f,"morCompactSec":$compactSec%.2f,"bigTailTableRows":$bigTableRows,"bigTailEvents":$bigTailEvents,"bigTailCowSamples":${jsonArr(bigCowS.toSeq)},"bigTailCowSec":$bigCowSec%.2f,"bigTailCowEventsPerSec":${(bigTailEvents / bigCowSec).toLong},"bigTailMorSamples":${jsonArr(bigMorS.toSeq)},"bigTailMorSec":$bigMorSec%.2f,"bigTailMorEventsPerSec":${(bigTailEvents / bigMorSec).toLong},"mwWriters":$mwWriters,"mwChunksPerWriter":$mwChunks,"mwCowSamples":${jsonArr(mwCowS.toSeq)},"mwCowSec":$mwCowSec%.2f,"mwCowEventsPerSec":${(tailEvents / mwCowSec).toLong},"mwMorSamples":${jsonArr(mwMorS.toSeq)},"mwMorSec":$mwMorSec%.2f,"mwMorEventsPerSec":${(tailEvents / mwMorSec).toLong},"mwRebases":$mwRebases,"mwReruns":$mwReruns,"mwRowsOk":$mwRowsOk,"viewBaseRows":$viewBaseRows,"viewRows":$viewRows,"viewIncrSamples":${jsonArr(viewIncrS.toSeq)},"viewIncrSec":${viewIncrS.min}%.2f,"viewFullSamples":${jsonArr(viewFullS.toSeq)},"viewFullSec":${viewFullS.min}%.2f,"spjRows":$spjRows,"spjSamples":${jsonArr(spjS.toSeq)},"spjSec":${spjS.min}%.2f,"spjShuffleSamples":${jsonArr(spjShufS.toSeq)},"spjShuffleSec":${spjShufS.min}%.2f,"sqlMergeSamples":${jsonArr(sqlMergeS.toSeq)},"sqlMergeSec":${sqlMergeS.min}%.2f,"sqlMergeSrcRows":$sqlMergeSrcRows,"sqlMergeRowsWritten":$sqlMergeRowsWritten,"sqlMergeReplacedBuckets":$sqlMergeReplaced,"sqlMergeNumBuckets":32,"sqlMergeTableRows":$sqlMergeTableRows,"textIndexSec":$textIndexSec%.2f,"searchFilesTotal":$searchFilesTotal,"searchMissFilesAdmitted":$searchFilesMissAdmitted,"searchHitSamples":${jsonArr(searchHitS)},"searchHitSec":${searchHitS.min}%.3f,"searchHitFullSec":${searchHitFullS.min}%.3f,"searchMissSamples":${jsonArr(searchMissS)},"searchMissSec":${searchMissS.min}%.3f,"searchMissFullSec":${searchMissFullS.min}%.3f,"countRows":$countRows,"countMetaPushed":$countMetaPushed,"countMetaSamples":${jsonArr(countMetaS)},"countMetaSec":${countMetaS.min}%.4f,"countScanSamples":${jsonArr(countScanS)},"countScanSec":${countScanS.min}%.3f}"""

    // ---- query sweep (one warmup pass, then timed) ----
    progress("queries: warmup pass")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      progress(s"warmup $name")
      try fn(spark, sfDir).count() catch { case _: Throwable => }
    }
    // two interleaved timed passes, per-query min — same steal-robust
    // principle as the cdc/scaling sections (a single stormy pass inflated
    // the whole round-2 sweep ~3×)
    def timedPass(tag: String): Seq[(String, Double)] = {
      progress(s"queries: timed pass $tag")
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        progress(s"query $name")
        val (_, sec) = timed {
          try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
        }
        name -> sec
      }
    }
    val results = (timedPass("1") ++ timedPass("2"))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, xs) => name -> xs.map(_._2).min }
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // ---- recall of the approximate paths' PRODUCTION configs vs exact
    // ground truth (the correctness gate proves the near-exhaustive configs;
    // these numbers prove the banding levels actually shipped at scale) ----
    var recallJson = "null"
    if (sys.env.getOrElse("SPARK_GRAFT_RECALL", "1") == "1") {
      import graft.operators.{Dedup, Similarity}
      import org.apache.spark.sql.functions._
      def pairRecall(approx: org.apache.spark.sql.DataFrame,
          truth: org.apache.spark.sql.DataFrame): Double = {
        val t = truth.select("id_a", "id_b").distinct().localCheckpoint(true)
        val n = t.count()
        if (n == 0) 1.0
        else approx.select("id_a", "id_b").distinct()
          .join(t, Seq("id_a", "id_b")).count().toDouble / n
      }
      val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
      val embDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
      progress("recall: minhash LSH (bands=16) vs exact jaccard")
      val rMinhash = pairRecall(
        Dedup.minhashLshPairs(docsDf, n = 3, numHashes = 64, bands = 16, minJaccard = 0.7),
        Dedup.ngramJaccardPairs(docsDf, n = 3, minJaccard = 0.7, maxDocFreq = 1000000))
      progress("recall: simhash banding vs exact hamming pairs")
      val sig = docsDf.select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sig"))
        .localCheckpoint(true)
      val truthSim = sig.as("a").join(sig.as("b"), col("a.id") < col("b.id"))
        .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 3)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val rSimhash = pairRecall(Dedup.simhashPairs(docsDf, maxHamming = 3), truthSim)
      // SRP geometry for the production configs: per-bit collision
      // p = 1 - θ/π, recall = 1 - (1 - p^bits)^bands. At the measured
      // boundary cos 0.35 (p = 0.614), 32 bands × 5 bits gives ≈0.95 —
      // the 16×6 geometry measured 0.62 and 8×8 measured 0.13, both below
      // what a production near-dup/ANN pass should ship. bitsPerBand should
      // grow ~log(corpus) at scale to keep buckets bounded; bands buy recall.
      progress("recall: embedding near-dup (32x5 SRP) vs brute-force pairs")
      val e = embDf.select(col("vec_id").as("id"), col("embedding").as("v"))
        .localCheckpoint(true)
      val truthNd = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
        .filter(round(Similarity.cosine(col("a.v"), col("b.v")), 4) >= 0.35)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val rNearDup = pairRecall(
        Similarity.embeddingNearDupPairs(embDf, minCos = 0.35, bands = 32, bitsPerBand = 5),
        truthNd)
      progress("recall: SRP ANN (32x5) vs brute-force top-k")
      val annQ = embDf.filter(col("vec_id") < 8)
      val bf = Similarity.bruteForceTopK(embDf, annQ, k = 5)
        .select("query_id", "vec_id").localCheckpoint(true)
      val nBf = bf.count()
      val rAnn = if (nBf == 0) 1.0
        else Similarity.lshTopK(embDf, annQ, k = 5, bands = 32, bitsPerBand = 5)
          .select("query_id", "vec_id")
          .join(bf, Seq("query_id", "vec_id")).count().toDouble / nBf
      // IVF at a PRODUCTION probe ratio: the correctness gate runs
      // nProbe == nLists (exhaustive, recall 1 by construction); the knob a
      // user actually turns is nProbe < nLists, so its recall belongs here
      // next to the other shipped-config numbers.
      progress("recall: IVF ANN (nProbe=2 of nLists=8) vs brute-force top-k")
      val rIvf = if (nBf == 0) 1.0
        else Similarity.ivfTopK(embDf, annQ, k = 5, nLists = 8, nProbe = 2)
          .select("query_id", "vec_id")
          .join(bf, Seq("query_id", "vec_id")).count().toDouble / nBf
      // The sf embeddings are near-orthogonal (no cluster structure) — the
      // WORST case for a coarse quantizer, so the number above is an
      // honest floor. Real corpora cluster; this leg measures the same
      // config on a deterministic clustered corpus (8 hash-derived centers,
      // ±0.15 noise) — the geometry IVF is actually used for.
      progress("recall: IVF ANN (nProbe=2 of 8) on a clustered synthetic corpus")
      val dim = 64
      def h01(cols: Column*): Column =
        ((xxhash64(cols: _*) % 1000L + 1000L) % 1000L).cast("double") / 1000.0
      val clustered = spark.range(2000).toDF("raw_id")
        .select(col("raw_id").as("vec_id"), (col("raw_id") % 8).as("cluster"))
        .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
          d => ((h01(col("cluster"), d) * 2 - 1) +
            (h01(col("vec_id"), d, lit(9)) * 2 - 1) * 0.15).cast("float")))
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      val cq = clustered.filter(col("vec_id") < 8)
      val cbf = Similarity.bruteForceTopK(clustered, cq, k = 5)
        .select("query_id", "vec_id").localCheckpoint(true)
      val nCbf = cbf.count()
      val rIvfClustered = if (nCbf == 0) 1.0
        else Similarity.ivfTopK(clustered, cq, k = 5, nLists = 8, nProbe = 2)
          .select("query_id", "vec_id")
          .join(cbf, Seq("query_id", "vec_id")).count().toDouble / nCbf
      // refine is the SHIPPED default (0 = auto, sized to the probed-
      // candidate count): round 4 measured 0.325 here at a hand-set
      // refine=100 — the silent near-tie cliff the auto default now defends
      // against; this leg is the no-hand-tuning proof
      progress("recall: IVF-PQ (probe 2 of 8, refine=auto) on the clustered corpus")
      val rIvfPqClustered = if (nCbf == 0) 1.0
        else Similarity.ivfPqTopK(clustered, cq, k = 5, nLists = 8, nProbe = 2,
          m = 8, codes = 16, trainSample = 0.5)
          .select("query_id", "vec_id")
          .join(cbf, Seq("query_id", "vec_id")).count().toDouble / nCbf
      // int8-quantized top-k at a production refine (4×k candidates per
      // query reach the exact re-rank); the gate runs refine ≥ corpus
      progress("recall: int8-quantized top-k (refine=20) vs brute-force top-k")
      val rQuant = if (nBf == 0) 1.0
        else Similarity.quantizedTopK(embDf, annQ, k = 5, refine = 20)
          .select("query_id", "vec_id")
          .join(bf, Seq("query_id", "vec_id")).count().toDouble / nBf
      // IVF-PQ production config (partial probe, small refine, sampled
      // training): the config a user ships; the gate runs exhaustive.
      // Near-orthogonal sf embeddings are the WORST case for BOTH coarse
      // lists and codebooks (same floor story as rIvf), so the clustered
      // synthetic corpus is measured alongside as the operating point.
      progress("recall: IVF-PQ (probe 2 of 8, refine=auto) vs brute-force top-k")
      val rIvfPq = if (nBf == 0) 1.0
        else Similarity.ivfPqTopK(embDf, annQ, k = 5, nLists = 8, nProbe = 2,
          m = 8, codes = 16, trainSample = 0.5)
          .select("query_id", "vec_id")
          .join(bf, Seq("query_id", "vec_id")).count().toDouble / nBf
      // honest timing of the int8 path vs the float baseline at a larger
      // query fan-out (64 queries; the sweep's 8-query gate config runs
      // refine ≥ corpus, which is brute force + overhead by construction) —
      // measured, not assumed: the JVM loop has no guaranteed SIMD win, the
      // claim that holds at 100 TB is the 4× index size/bandwidth
      progress("timing: int8 quantized (refine=20) vs float brute force, 64 queries")
      val annQ64 = embDf.filter(col("vec_id") < 64)
      val annBfS = (1 to 2).map(_ =>
        timed { Similarity.bruteForceTopK(embDf, annQ64, k = 5).count() }._2)
      val annQuantS = (1 to 2).map(_ =>
        timed { Similarity.quantizedTopK(embDf, annQ64, k = 5, refine = 20).count() }._2)
      // the int8 claim is INDEX SIZE, not JVM FLOPs — measure it as written
      // parquet bytes (same codec both sides), not as an assumed 4×
      val idxDir = tmp("bench-annidx")
      embDf.select(col("vec_id"), col("embedding"))
        .write.parquet(s"$idxDir/float")
      embDf.select(col("vec_id"),
          graft.functions.expressions.TextExprs.quantize8Col(col("embedding")).as("q8"))
        .write.parquet(s"$idxDir/int8")
      def dirBytes(p: String): Long = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally st.close()
      }
      val idxFloatBytes = dirBytes(s"$idxDir/float")
      val idxInt8Bytes = dirBytes(s"$idxDir/int8")
      rmDir(idxDir)
      // persisted-index lifecycle, measured: build ONCE (train + encode +
      // list-partitioned write), then search many — vs the per-job
      // recompute ivfTopK does (train+encode inside every query batch).
      // Same config both sides (8 lists, probe 2 of 8, 64 queries, exact
      // re-rank); the indexed search opens ONLY the probed lists' files
      // (AnnIndexSpec proves that physically). At 10^10 vectors the
      // recompute column is the scale-killer the persisted index deletes.
      progress("timing: persisted IVF index search vs per-job recompute, 64 queries")
      val annIdxDir = tmp("bench-annidx-ivf")
      val (_, annIdxBuildSec) = timed {
        graft.operators.AnnIndex.buildIvf(embDf, annIdxDir, nLists = 8, iters = 3)
      }
      val annRecomputeS = (1 to 2).map(_ => timed {
        Similarity.ivfTopK(embDf, annQ64, k = 5, nLists = 8, nProbe = 2).count()
      }._2)
      val annIndexedS = (1 to 2).map(_ => timed {
        graft.operators.AnnIndex.searchIvf(spark, annIdxDir, annQ64,
          k = 5, nProbe = 2).count()
      }._2)
      rmDir(annIdxDir)
      // incremental admission, measured: a CDC batch (one third of the
      // corpus) appended against the STORED model vs the full rebuild that
      // is the only alternative without append. The rebuild column is
      // annIdxBuildSec's cost class — train + full-corpus encode — so the
      // ratio is what a daily ingest pays per index refresh at scale.
      progress("timing: IVF index append (1/3 corpus) vs full rebuild")
      val annApDir = tmp("bench-annidx-append")
      val (apBase, annApBuildSec) = timed {
        graft.operators.AnnIndex.buildIvf(
          embDf.filter(col("vec_id") % 3 =!= 0), annApDir, nLists = 8, iters = 3)
      }
      val (apMeta, annAppendSec) = timed {
        graft.operators.AnnIndex.append(spark, annApDir,
          embDf.filter(col("vec_id") % 3 === 0))
      }
      require(apMeta.corpusCount > apBase.corpusCount,
        "append leg wrote no vectors")
      rmDir(annApDir)
      // streaming maintenance, measured: the index FOLLOWS a lake table —
      // commit the late third as CDC inserts and time the change-feed
      // catch-up (AnnMaintenance.runAvailableNow: cdf diff → stored-model
      // assign → list append → meta commit). The append-third leg above
      // is the floor (same quantize+append minus the feed plumbing);
      // annApBuildSec is the rebuild this replaces per ingest cycle.
      progress("timing: streaming index maintenance (cdf catch-up, 1/3 corpus)")
      val annMtTbl = tmp("bench-annm-tbl"); val annMtIdx = tmp("bench-annm-idx")
      val annMtCkpt = tmp("bench-annm-ckpt")
      val annMtT = new graft.table.LakeTable(annMtTbl, numBuckets = 8)
      def annMtEvents(df: org.apache.spark.sql.DataFrame) = df.select(
        col("vec_id").cast("string").as("conv_id"), lit(0).as("turn_idx"),
        lit("user").as("role"), lit("").as("text"),
        lit(null).cast("string").as("tool"),
        lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")).as("ts"),
        lit("insert").as("op"), col("vec_id").as("seq"), col("embedding"))
      MergeApplier.applyBatch(spark, annMtT,
        annMtEvents(embDf.filter(col("vec_id") % 3 =!= 0)), "annm", 0L)
      val annMtV0 = annMtT.currentSnapshot().get.version
      graft.operators.AnnIndex.buildIvf(
        annMtT.read(spark).select(col("conv_id"), col("embedding")), annMtIdx,
        nLists = 8, iters = 3, idCol = "conv_id")
      MergeApplier.applyBatch(spark, annMtT,
        annMtEvents(embDf.filter(col("vec_id") % 3 === 0)), "annm", 1L)
      val annMtPre = graft.operators.AnnIndex.readMeta(annMtIdx).corpusCount
      val (_, annMaintainSec) = timed {
        graft.streaming.AnnMaintenance.runAvailableNow(spark, annMtTbl,
          annMtIdx, annMtCkpt, idCol = "conv_id",
          startingVersion = annMtV0.toString)
      }
      val annMaintainVecs =
        graft.operators.AnnIndex.readMeta(annMtIdx).corpusCount - annMtPre
      require(annMaintainVecs > 0, "maintenance leg admitted no vectors")
      Seq(annMtTbl, annMtIdx, annMtCkpt).foreach(rmDir)
      recallJson = f"""{"dedup_minhash_lsh_bands16":$rMinhash%.4f,"dedup_simhash_banded":$rSimhash%.4f,"embed_neardup_32x5":$rNearDup%.4f,"ann_lsh_topk_32x5":$rAnn%.4f,"ann_ivf_topk_probe2of8":$rIvf%.4f,"ann_ivf_topk_probe2of8_clustered":$rIvfClustered%.4f,"ann_quant_topk_refine20":$rQuant%.4f,"ann_ivfpq_topk_probe2of8_refineauto":$rIvfPq%.4f,"ann_ivfpq_topk_probe2of8_refineauto_clustered":$rIvfPqClustered%.4f,"ann_bf_64q_sec":${annBfS.min}%.3f,"ann_quant_64q_sec":${annQuantS.min}%.3f,"ann_index_float_bytes":$idxFloatBytes,"ann_index_int8_bytes":$idxInt8Bytes,"ann_ivf_index_build_sec":$annIdxBuildSec%.3f,"ann_ivf_recompute_64q_samples":${jsonArr(annRecomputeS)},"ann_ivf_recompute_64q_sec":${annRecomputeS.min}%.3f,"ann_ivf_indexed_64q_samples":${jsonArr(annIndexedS)},"ann_ivf_indexed_64q_sec":${annIndexedS.min}%.3f,"ann_ivf_append_third_sec":$annAppendSec%.3f,"ann_ivf_rebuild_base_sec":$annApBuildSec%.3f,"ann_maintain_catchup_sec":$annMaintainSec%.3f,"ann_maintain_vectors":$annMaintainVecs}"""
    }

    emit(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","cdc":$cdcJson,"scaling":$scalingJson,"recall":$recallJson}""")
    inputDirs.foreach(rmDir)
    spark.stop()
  }
}

package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.{CommitBuilder, CommitConflictException, LakeTable, Snapshot}

import java.sql.Timestamp
import java.util.concurrent.CountDownLatch

/** Multi-writer optimistic concurrency: the CAS commit primitive, the three
  * conflict resolutions (metadata rebase for disjoint COW / any MOR append,
  * merge re-run for overlapping COW, split-brain skip for a duplicate
  * writer+batch), compaction yielding to a sustained faster writer, and a
  * nondeterministic thread-race stress against the in-memory oracle fold.
  *
  * Deterministic cases inject the concurrent winner through
  * CommitBuilder.beforePublish — inside the window between staging the
  * attempt's data files and the first CAS try.
  */
class ConcurrencySpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ev(conv: String, turn: Int, text: String, t: String, op: String, seq: Long) =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def apply1(table: LakeTable, events: Seq[ChangeEvent], w: String, b: Long) =
    MergeApplier.applyBatch(spark, table, spark.createDataset(events).toDF(), w, b)

  private def applyMor1(table: LakeTable, events: Seq[ChangeEvent], w: String, b: Long) =
    MergeApplier.applyBatch(spark, table, spark.createDataset(events).toDF(), w, b, mode = "mor")

  private def finalState(table: LakeTable): Map[(String, Int), (String, Long)] =
    table.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  /** The engine's bucket function (same murmur3 as hashpartitioning). */
  private def bucketOf(c: String, t: Int, n: Int): Int = {
    import org.apache.spark.sql.functions._
    spark.range(1).select(pmod(hash(lit(c), lit(t)), lit(n)).cast("int"))
      .head().getInt(0)
  }

  /** Two conv ids whose (conv, 0) keys land in different buckets. */
  private def disjointConvs(n: Int): (String, String) = {
    val cs = (0 until 64).map(i => s"conv$i")
    val a = cs.head
    val b = cs.find(c => bucketOf(c, 0, n) != bucketOf(a, 0, n)).get
    (a, b)
  }

  private def withHook[T](hook: (String, Long) => Unit)(body: => T): T =
    try { CommitBuilder.beforePublish = hook; body }
    finally CommitBuilder.beforePublish = (_, _) => ()

  test("commit CAS: of N racing committers of one version exactly one wins") {
    val table = new LakeTable(tmpDir("cas"), numBuckets = 4)
    apply1(table, Seq(ev("c1", 0, "v1", "2025-01-01 00:00:00", "insert", 1)), "w", 0L)
    val base = table.currentSnapshot().get
    val n = 8
    val start = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Long, Long]]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        start.await()
        val cand = base.copy(version = base.version + 1,
          metrics = Map("committer" -> i.toLong), parentVersion = base.version)
        try { table.commit(cand); results.add(Right(i.toLong)) }
        catch { case e: CommitConflictException => results.add(Left(e.version)) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = results.asScala.toSeq.partition(_.isLeft)
    assert(winners.size == 1, s"expected exactly one CAS winner, got $winners")
    assert(losers.size == n - 1)
    // the published snapshot is the winner's — fully written, parseable
    val cur = table.currentSnapshot().get
    assert(cur.version == base.version + 1)
    assert(Seq(cur.metrics("committer")) == winners.map(_.toOption.get))
    // losers' staged temp files were cleaned up
    val straggler = java.nio.file.Files.list(
      java.nio.file.Paths.get(table.root, "meta"))
    try {
      import scala.jdk.CollectionConverters._
      assert(!straggler.iterator().asScala.exists(
        _.getFileName.toString.startsWith(".tmp-snap-")))
    } finally straggler.close()
  }

  test("COW conflict on disjoint buckets rebases as pure metadata") {
    val n = 8
    val (ca, cb) = disjointConvs(n)
    val table = new LakeTable(tmpDir("cow-disjoint"), numBuckets = n)
    apply1(table, Seq(
      ev(ca, 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev(cb, 0, "b0", "2025-01-01 00:00:00", "insert", 2)), "init", 0L)

    // winner B commits inside A's CAS window, touching only cb's bucket
    val r = withHook((w, _) => if (w == "A") {
      CommitBuilder.beforePublish = (_, _) => ()
      apply1(table, Seq(ev(cb, 0, "b1", "2025-01-01 00:01:00", "update", 3)), "B", 0L)
    }) {
      apply1(table, Seq(ev(ca, 0, "a1", "2025-01-01 00:01:00", "update", 4)), "A", 0L)
    }
    assert(!r.skipped)
    val cur = table.currentSnapshot().get
    assert(cur.version == 3) // init=1, B=2, A rebased onto 3
    assert(cur.metrics.contains("rebasedFrom"),
      "disjoint-bucket loser must rebase, not re-run")
    assert(cur.maxBatchId("A") == 0L && cur.maxBatchId("B") == 0L)
    assert(finalState(table) == Map(
      (ca, 0) -> (("a1", 4L)), (cb, 0) -> (("b1", 3L))))
    // lineage stayed exact through the rebase
    assert(cur.bucketRows == table.footerRowCounts(table.resolveFiles(cur)))
  }

  test("COW conflict on the SAME bucket re-runs the merge against the winner") {
    val table = new LakeTable(tmpDir("cow-overlap"), numBuckets = 4)
    apply1(table, Seq(ev("c1", 0, "v0", "2025-01-01 00:00:00", "insert", 1)), "init", 0L)

    val r = withHook((w, _) => if (w == "A") {
      CommitBuilder.beforePublish = (_, _) => ()
      // B updates the SAME key — A's staged fold no longer includes the winner
      apply1(table, Seq(ev("c1", 0, "b-won", "2025-01-01 00:01:00", "update", 2)), "B", 0L)
    }) {
      apply1(table, Seq(ev("c1", 0, "a-won", "2025-01-01 00:02:00", "update", 3)), "A", 0L)
    }
    assert(!r.skipped)
    val cur = table.currentSnapshot().get
    assert(cur.version == 3)
    // re-run, not rebase: the re-merged fold SAW b-won and out-versioned it
    assert(!cur.metrics.contains("rebasedFrom"))
    assert(cur.metrics.get("rerunAttempt").contains(2L),
      "a conflict re-run must record which attempt landed (contention lineage)")
    assert(finalState(table) == Map(("c1", 0) -> (("a-won", 3L))))
    // the LWW outcome is schedule-independent: same state as sequential B;A
    assert(cur.maxBatchId("A") == 0L && cur.maxBatchId("B") == 0L)
  }

  test("MOR conflict always rebases (delta append is order-independent)") {
    val table = new LakeTable(tmpDir("mor-rebase"), numBuckets = 4)
    applyMor1(table, Seq(ev("c1", 0, "v0", "2025-01-01 00:00:00", "insert", 1)), "init", 0L)

    val r = withHook((w, _) => if (w == "A") {
      CommitBuilder.beforePublish = (_, _) => ()
      // even a SAME-key winner doesn't force a re-run on the MOR path
      applyMor1(table, Seq(ev("c1", 0, "b", "2025-01-01 00:01:00", "update", 2)), "B", 0L)
    }) {
      applyMor1(table, Seq(
        ev("c1", 0, "a", "2025-01-01 00:02:00", "update", 3),
        ev("c2", 5, "new", "2025-01-01 00:02:00", "insert", 4)), "A", 0L)
    }
    assert(!r.skipped)
    val cur = table.currentSnapshot().get
    assert(cur.version == 3 && cur.metrics.contains("rebasedFrom"))
    assert(finalState(table) == Map(
      ("c1", 0) -> (("a", 3L)), ("c2", 5) -> (("new", 4L))))
    // stored-row lineage added up through the rebase (deltas are additive)
    assert(cur.bucketRows == table.footerRowCounts(table.resolveFiles(cur)))
    // compaction folds the raced deltas to the same winners
    MergeApplier.compact(spark, table, Timestamp.valueOf("2030-01-01 00:00:00"))
    assert(finalState(table) == Map(
      ("c1", 0) -> (("a", 3L)), ("c2", 5) -> (("new", 4L))))
  }

  test("racing writers with DIFFERENT additive schema evolutions union on rebase") {
    import org.apache.spark.sql.functions.lit
    val n = 8
    val (ca, cb) = disjointConvs(n)
    val table = new LakeTable(tmpDir("evolve-race"), numBuckets = n)
    apply1(table, Seq(
      ev(ca, 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev(cb, 0, "b0", "2025-01-01 00:00:00", "insert", 2)), "init", 0L)

    def evolved(e: ChangeEvent, colName: String, v: String) =
      spark.createDataset(Seq(e)).toDF().withColumn(colName, lit(v))

    // winner B adds `model`; loser A (disjoint buckets — rebase path) adds
    // `score`: the rebased snapshot's schema must be the UNION of both
    val r = withHook((w, _) => if (w == "A") {
      CommitBuilder.beforePublish = (_, _) => ()
      MergeApplier.applyBatch(spark, table,
        evolved(ev(cb, 0, "b1", "2025-01-01 00:01:00", "update", 3), "model", "m1"),
        "B", 0L)
    }) {
      MergeApplier.applyBatch(spark, table,
        evolved(ev(ca, 0, "a1", "2025-01-01 00:01:00", "update", 4), "score", "0.9"),
        "A", 0L)
    }
    assert(!r.skipped)
    val cur = table.currentSnapshot().get
    assert(cur.metrics.contains("rebasedFrom"), "disjoint buckets must rebase")
    val names = cur.schema.fieldNames.toSet
    assert(names.contains("model") && names.contains("score"),
      s"rebased schema must union both evolutions, got $names")
    // rows carry their own column and null for the other's (additive fill)
    val rows = table.read(spark).collect()
      .map(x => x.getAs[String]("conv_id") ->
        ((x.getAs[String]("model"), x.getAs[String]("score")))).toMap
    assert(rows == Map(ca -> ((null, "0.9")), cb -> (("m1", null))))
  }

  test("split brain: a duplicate (writer, batch) that loses the CAS skips — exactly-once") {
    val table = new LakeTable(tmpDir("split-brain"), numBuckets = 4)
    apply1(table, Seq(ev("c1", 0, "v0", "2025-01-01 00:00:00", "insert", 1)), "w", 0L)

    val batch = Seq(ev("c1", 0, "v1", "2025-01-01 00:01:00", "update", 2))
    val r = withHook((w, b) => if (w == "w" && b == 1L) {
      CommitBuilder.beforePublish = (_, _) => ()
      apply1(table, batch, "w", 1L) // the other instance of the same writer
    }) {
      apply1(table, batch, "w", 1L)
    }
    assert(r.skipped, "the losing duplicate must detect the ledger and skip")
    val cur = table.currentSnapshot().get
    assert(cur.version == 2, "exactly one commit for the duplicated batch")
    assert(cur.maxBatchId("w") == 1L)
    assert(finalState(table) == Map(("c1", 0) -> (("v1", 2L))))
  }

  test("compaction yields to a sustained faster writer, then succeeds when quiet") {
    val table = new LakeTable(tmpDir("compact-yield"), numBuckets = 4)
    var seq = 0L
    def nextBatch(i: Int): Seq[ChangeEvent] = {
      seq += 1; Seq(ev("c1", i, s"t$seq", "2025-01-01 00:00:00", "insert", seq))
    }
    (0 until 3).foreach(i => applyMor1(table, nextBatch(i), "w", i.toLong))
    val all = scala.collection.mutable.ArrayBuffer[ChangeEvent]()

    var injections = 0
    val kept = withHook((w, _) => if (w == "compact") {
      // every compaction attempt loses to a fresh MOR append
      injections += 1
      val b = nextBatch(100 + injections)
      all ++= b
      applyMor1(table, b, "fast", 100L + injections)
    }) {
      MergeApplier.compactRetainTombstones(spark, table)
    }
    assert(kept == -1L, "compaction must yield, not livelock")
    assert(injections == 4, "bounded retries: exactly 4 attempts")
    // no torn state: the yielded compaction left only unpublished orphans
    val cur = table.currentSnapshot().get
    assert(cur.morDeltas && cur.maxBatchId("fast") == 104L)
    // quiet host: the retry (next maintenance trigger) folds everything
    val kept2 = MergeApplier.compactRetainTombstones(spark, table)
    assert(kept2 == 7L) // 3 + 4 distinct keys, all inserts
    assert(!table.currentSnapshot().get.morDeltas)
    assert(table.read(spark).count() == 7L)
  }

  test("commit lock: a rival's commit parks at the gate until the holder releases") {
    val table = new LakeTable(tmpDir("lock-gate"), numBuckets = 4)
    apply1(table, Seq(ev("c1", 0, "v0", "2025-01-01 00:00:00", "insert", 1)), "w", 0L)
    val base = table.currentSnapshot().get

    val rivalCommitted = new CountDownLatch(1)
    val rivalStarted = new CountDownLatch(1)
    @volatile var committedWhileHeld = false
    val rival = new Thread(() => {
      rivalStarted.countDown()
      try table.commit(base.copy(version = base.version + 1,
        metrics = Map("who" -> 2L), parentVersion = base.version))
      catch { case _: CommitConflictException => () } // lost the CAS after unparking — fine
      rivalCommitted.countDown()
    })
    val holderSaw = table.withCommitLock {
      rival.start()
      rivalStarted.await()
      Thread.sleep(300) // give the rival time to reach (and park at) the gate
      committedWhileHeld = rivalCommitted.getCount == 0
      // the holder's own commit passes straight through the gate
      table.commit(base.copy(version = base.version + 1,
        metrics = Map("who" -> 1L), parentVersion = base.version))
      table.currentSnapshot().get.metrics("who")
    }
    assert(!committedWhileHeld, "rival commit must park while the lock is held")
    assert(holderSaw == 1L, "holder's commit wins under the lock")
    rival.join(30000)
    assert(rivalCommitted.getCount == 0, "rival must resume after release")
    // the parked rival then lost the CAS legitimately... or raced to v+2; all
    // that matters here is it UNPARKED and the table is consistent
    assert(table.currentSnapshot().get.version >= base.version + 1)
  }

  test("commit lock: a crashed holder's stale lock is broken, not waited on forever") {
    val table = new LakeTable(tmpDir("lock-stale"), numBuckets = 4)
    apply1(table, Seq(ev("c1", 0, "v0", "2025-01-01 00:00:00", "insert", 1)), "w", 0L)
    // simulate a crashed holder: a lock file nobody will ever release
    val lock = java.nio.file.Paths.get(table.root, "meta", "commit.lock")
    java.nio.file.Files.write(lock, "dead-holder".getBytes)
    table.lockStaleMs = 50L
    Thread.sleep(120)
    // both the gate (plain commit) and a new acquisition break the stale lock
    apply1(table, Seq(ev("c1", 0, "v1", "2025-01-01 00:01:00", "update", 2)), "w", 1L)
    val n = table.withCommitLock(41L) + 1
    assert(n == 42L)
    assert(finalState(table) == Map(("c1", 0) -> (("v1", 2L))))
    assert(!java.nio.file.Files.exists(lock), "released after the escalated use")
  }

  test("thread race: concurrent COW writers on a shared table converge to the oracle") {
    val table = new LakeTable(tmpDir("race-cow"), numBuckets = 8)
    val writers = 4
    val batches = 3
    // per-writer conv universes OVERLAP (writer i uses convs i..i+2) so both
    // rebase and re-run paths get exercised under real interleaving
    val plan: Map[String, Seq[Seq[ChangeEvent]]] = (0 until writers).map { i =>
      val evs = (0 until batches).map { b =>
        (0 until 6).map { j =>
          val conv = s"conv${i + j % 3}"
          ev(conv, j, s"w$i-b$b-$j", f"2025-01-01 00:${i * batches + b}%02d:00",
            if (j == 5 && b == 2) "delete" else "insert",
            (i * 1000 + b * 100 + j).toLong)
        }
      }
      s"w$i" -> evs
    }.toMap
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = plan.map { case (w, evss) =>
      val t = new Thread(() => {
        start.await()
        try evss.zipWithIndex.foreach { case (evs, b) => apply1(table, evs, w, b.toLong) }
        catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"writer thread failed: ${failures.peek()}")

    val allEvents = plan.values.flatten.flatten.toSeq
    val oracle = Generator.oracleFold(allEvents).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)
    val cur = table.currentSnapshot().get
    (0 until writers).foreach(i => assert(cur.maxBatchId(s"w$i") == (batches - 1).toLong))
    // one commit per applied batch: the version chain has no gaps or extras
    assert(cur.version == (writers * batches).toLong)
    assert(cur.bucketRows == table.footerRowCounts(table.resolveFiles(cur)))
    // vacuum sweeps every lost attempt's staged files; survivors = referenced
    table.vacuum(keepLast = 1, graceMs = 0L)
    val left = table.root
    val orphans = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(left, "data"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") &&
          !table.allFiles(cur).contains(p.toString)).toList
      } finally s.close()
    }
    assert(orphans.isEmpty, s"unswept orphan attempt files: $orphans")
    assert(finalState(table) == oracle, "vacuum must not touch referenced files")
  }

  test("two concurrent STREAMING tails (one COW writer, one MOR writer) into one table converge") {
    // the full stack composed: two Structured Streaming queries, each with its
    // own checkpoint + writerId, racing real foreachBatch applies (mixed
    // COW × MOR conflict interleavings) into ONE shared table
    val table = new LakeTable(tmpDir("dual-stream"), numBuckets = 8)
    // disjoint seq parities keep every (ts, seq) pair unique across the two
    // independently-generated streams — the LWW tie-break stays deterministic
    val a = Generator.events(spark, 1200, numConvs = 10, turnsPerConv = 5, seed = 7)
      .as[ChangeEvent].collect().toSeq.map(e => e.copy(seq = e.seq * 2))
    val b = Generator.events(spark, 1200, numConvs = 10, turnsPerConv = 5, seed = 8)
      .as[ChangeEvent].collect().toSeq.map(e => e.copy(seq = e.seq * 2 + 1))
    def writeSrc(evs: Seq[ChangeEvent], dir: String): Unit =
      evs.grouped(300).foreach { c =>
        spark.createDataset(c).repartition(1).write.mode("append").parquet(dir)
      }
    val srcA = tmpDir("dual-src-a"); val srcB = tmpDir("dual-src-b")
    writeSrc(a, srcA); writeSrc(b, srcB)

    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def tail(src: String, w: String, mode: String): Thread = {
      val t = new Thread(() => {
        start.await()
        try graft.streaming.CdcStream.runAvailableNow(spark, src, table,
          tmpDir(s"dual-ckpt-$w"), writerId = w, maxFilesPerTrigger = 1, mode = mode)
        catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    val threads = Seq(tail(srcA, "sa", "cow"), tail(srcB, "sb", "mor"))
    start.countDown()
    threads.foreach(_.join(180000))
    assert(failures.isEmpty, s"streaming tail failed: ${failures.peek()}")

    val oracle = Generator.oracleFold(a ++ b).map { case (k, e) => k -> ((e.text, e.seq)) }
    assert(finalState(table) == oracle)
    val cur = table.currentSnapshot().get
    assert(cur.maxBatchId("sa") == 3L && cur.maxBatchId("sb") == 3L,
      "each stream's 4 file-triggers all landed exactly once")
    // and the raced COW/MOR state compacts to the same fold
    assert(MergeApplier.compactRetainTombstones(spark, table) >= 0L)
    assert(finalState(table) == oracle)
  }

  test("thread race: concurrent MOR appenders + a racing compactor converge") {
    val table = new LakeTable(tmpDir("race-mor"), numBuckets = 8)
    val all = Generator.events(spark, 2400, numConvs = 12, turnsPerConv = 5, seed = 99)
      .as[ChangeEvent].collect().toSeq
    val oracle = Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }
    val byWriter = all.sortBy(_.seq).grouped(600).toSeq.zipWithIndex
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appenders = byWriter.map { case (chunk, i) =>
      val t = new Thread(() => {
        start.await()
        try chunk.grouped(200).zipWithIndex.foreach { case (b, bi) =>
          applyMor1(table, b, s"m$i", bi.toLong)
        } catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    val compactor = new Thread(() => {
      start.await()
      try (0 until 3).foreach { _ =>
        MergeApplier.compactRetainTombstones(spark, table) // -1 (yield) is fine
        Thread.sleep(30)
      } catch { case e: Throwable => failures.add(e) }
    })
    compactor.start()
    start.countDown()
    (appenders :+ compactor).foreach(_.join(120000))
    assert(failures.isEmpty, s"thread failed: ${failures.peek()}")
    assert(finalState(table) == oracle)
    // final quiet compaction lands and preserves the fold
    assert(MergeApplier.compactRetainTombstones(spark, table) >= 0L)
    assert(finalState(table) == oracle)
  }

  test("every commit path meets a seam-injected race by its conflict rule") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    val n = 8
    val (ca, cb) = disjointConvs(n)
    val init = Seq(ev(ca, 0, "a0", "2025-01-01 00:00:00", "insert", 1),
      ev(cb, 0, "b0", "2025-01-01 00:00:00", "insert", 2))
    // what the COW, MOR, sink and publish paths write: an update of ca's key
    val mine = Seq(ev(ca, 0, "a1", "2025-01-01 00:02:00", "update", 4))
    def listed(dir: java.nio.file.Path): Set[String] =
      if (!java.nio.file.Files.isDirectory(dir)) Set.empty
      else {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
      }
    def manifests(t: LakeTable) =
      listed(java.nio.file.Paths.get(t.root, "meta")).filter(_.startsWith("man-"))
    def state(t: LakeTable) = t.read(spark).collect().map(r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[String]("role"), r.getAs[Long]("seq")))).toMap
    def sinkEpoch(t: LakeTable): Unit = {
      val src = tmpDir("race-sink-src")
      writeFlatParquet(spark.createDataset(mine).toDF().drop("op"), src, "a.parquet")
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(
          Model.changeEventSchema.fields.filterNot(_.name == "op")))
        .parquet(src).writeStream.format("lake")
        .option("path", t.root)
        .option("checkpointLocation", tmpDir("race-sink-ckpt"))
        .option("writerId", "S")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

    // (path, the writerId its seam call carries, outcome when the injected
    // winner touches a disjoint bucket / the same bucket, the write itself;
    // it gets the table and the name of a catalog over the table's parent)
    val paths: Seq[(String, String, String, String, (LakeTable, String) => Unit)] = Seq(
      ("cow", "A", "rebase", "rerun", (t, _) => apply1(t, mine, "A", 0L)),
      ("mor", "A", "rebase", "rebase", (t, _) => applyMor1(t, mine, "A", 0L)),
      ("sink", "S", "rebase", "rebase", (t, _) => sinkEpoch(t)),
      ("sql-update", "sql-rlo", "rebase", "cme", (_, cat) =>
        spark.sql(s"UPDATE $cat.convs SET role = 'assistant' WHERE conv_id = '$ca'")),
      ("publish", "A", "rebase", "cme", (t, _) => t.publishStaged(MergeApplier.stageBatch(
        spark, t, spark.createDataset(mine).toDF(), "A", 0L).get)),
      ("selective-compaction", "compact", "rerun", "rerun", (t, _) =>
        MergeApplier.compactBucketsRetainTombstones(spark, t, Set(t.bucketFor(ca, 0)))),
      ("rebucket", "rebucket", "cce", "cce", (t, _) => MergeApplier.rebucket(spark, t, 4)))

    for ((path, trigger, onDisjoint, onSame, write) <- paths; same <- Seq(false, true)) {
      val expected = if (same) onSame else onDisjoint
      val clue = s"$path, ${if (same) "same" else "disjoint"} bucket:"
      val base = tmpDir(s"race-$path")
      val t = new LakeTable(s"$base/convs", numBuckets = n)
      apply1(t, init, "init", 0L)
      val cat = s"race_${path.replace('-', '_')}_$same"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.table.LakeCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.base", base)
      val injected =
        if (same) ev(ca, 0, "b-won", "2025-01-01 00:01:00", "update", 3)
        else ev(cb, 0, "b1", "2025-01-01 00:01:00", "update", 3)
      var fires = 0
      var afterInjection = Set.empty[String]
      val failure = withHook((w, _) => if (w == trigger) {
        fires += 1
        if (fires == 1) {
          apply1(t, Seq(injected), "B", 0L)
          afterInjection = manifests(t)
        }
      }) {
        try { write(t, cat); None } catch { case e: Throwable => Some(e) }
      }
      def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      val head = t.currentSnapshot().get
      expected match {
        case "rebase" =>
          assert(failure.isEmpty && fires == 1, s"$clue $failure, seam fired $fires times")
          assert(head.metrics.contains("rebasedFrom"), s"$clue must rebase: ${head.metrics}")
          assert(manifests(t) == afterInjection,
            s"$clue the rebase wrote a manifest beyond its own")
        case "rerun" =>
          assert(failure.isEmpty && fires == 2, s"$clue $failure, seam fired $fires times")
          assert(!head.metrics.contains("rebasedFrom"), s"$clue must re-run: ${head.metrics}")
        case "cme" =>
          assert(failure.exists(causes(_).exists(
            _.isInstanceOf[java.util.ConcurrentModificationException])), s"$clue $failure")
          assert(fires == 1 && head.version == 2, s"$clue no snapshot from the stale write")
        case "cce" =>
          assert(failure.exists(_.isInstanceOf[CommitConflictException]), s"$clue $failure")
          assert(fires == 1 && head.version == 2 && head.numBuckets == n, clue)
      }
      if (path == "cow" && same)
        assert(head.metrics.get("rerunAttempt").contains(2L), s"$clue ${head.metrics}")
      if (path == "sql-update" && same) {
        assert(!head.committed.contains("sql-rlo"), clue)
        assert(!listed(java.nio.file.Paths.get(t.root, "data")).exists(_.contains("-sql-rlo-")),
          s"$clue the stale statement's attempt dir must be deleted")
      }
      // the final state is the sequential oracle's: init, the winner, then
      // the path's own write if it landed
      val landed = expected == "rebase" || expected == "rerun"
      val writes = init ++ Seq(injected) ++
        (if (landed && Set("cow", "mor", "sink", "publish")(path)) mine else Seq.empty)
      val oracle = Generator.oracleFold(writes).map { case (k, e) => k -> ((e.text, e.role, e.seq)) }
      val want =
        if (landed && path == "sql-update")
          oracle.updated((ca, 0), oracle((ca, 0)).copy(_2 = "assistant"))
        else oracle
      assert(state(t) == want, clue)
      assert(head.bucketRows == t.footerRowCounts(t.resolveFiles(head)), clue)
    }
  }
}

package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{BucketLocal, ChangeFeed, MergeApplier}
import graft.table.LakeTable
import org.apache.spark.sql.Row

import java.sql.Timestamp

class ChangeFeedSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(conv: String, turn: Int, text: String, t: String, op: String,
      seq: Long, tool: Option[String] = None) =
    ChangeEvent(conv, turn, "user", text, tool, ts(t), op, seq)

  private def apply(table: LakeTable, batch: Seq[ChangeEvent], id: Long,
      mor: Boolean = false): Long = {
    val df = spark.createDataset(batch).toDF()
    if (mor) MergeApplier.applyBatch(spark, table, df, "w", id, mode = "mor")
    else MergeApplier.applyBatch(spark, table, df, "w", id)
    table.currentSnapshot().get.version
  }

  /** feed rows keyed by (conv, turn) → (change_type, text, seq, tool). */
  private def feedMap(rows: Array[Row]): Map[(String, Int), (String, String, Long, String)] =
    rows.map { r =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("change_type"), r.getAs[String]("text"),
          r.getAs[Long]("seq"), r.getAs[String]("tool")))
    }.toMap

  test("classification golden: insert / update / delete with pre- and post-images") {
    val table = new LakeTable(tmpDir("feed-golden"), numBuckets = 4)
    val v1 = apply(table, Seq(
      ev("cA", 0, "keep-as-is", "2025-01-01 00:00:00", "insert", 1),
      ev("cA", 1, "will-update", "2025-01-01 00:00:01", "insert", 2),
      ev("cB", 0, "will-die", "2025-01-01 00:00:02", "insert", 3),
      ev("cB", 1, null, "2025-01-01 00:00:03", "delete", 4)), 0L)
    val v2 = apply(table, Seq(
      ev("cA", 1, "updated", "2025-01-01 00:01:00", "update", 5),
      ev("cB", 0, null, "2025-01-01 00:01:01", "delete", 6),
      ev("cC", 7, "newborn", "2025-01-01 00:01:02", "insert", 7),
      // tombstone-over-tombstone: no visible change
      ev("cB", 1, null, "2025-01-01 00:01:03", "delete", 8)), 1L)

    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
    assert(feed == Map(
      ("cA", 1) -> (("update", "updated", 5L, null)),       // post-image
      ("cB", 0) -> (("delete", "will-die", 3L, null)),      // PRE-image
      ("cC", 7) -> (("insert", "newborn", 7L, null))))
    // unchanged key emits nothing even though its bucket may have been rewritten
    assert(!feed.contains(("cA", 0)) && !feed.contains(("cB", 1)))
  }

  test("resurrection across versions is an insert; same-version no-op emits nothing") {
    val table = new LakeTable(tmpDir("feed-resurrect"), numBuckets = 2)
    val v1 = apply(table, Seq(
      ev("c1", 0, "alive", "2025-01-01 00:00:00", "insert", 1),
      ev("c1", 0, null, "2025-01-01 00:00:10", "delete", 2)), 0L)
    assert(table.read(spark).count() == 0)
    val v2 = apply(table, Seq(
      ev("c1", 0, "back", "2025-01-01 00:00:20", "insert", 3),
      // a STALE event for another key that loses LWW → no change for it
      ev("c1", 1, "x", "2025-01-01 00:00:01", "insert", 4)), 1L)
    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
    assert(feed(("c1", 0)) == (("insert", "back", 3L, null)))

    // identical endpoints → empty feed; changesSince agrees with changesBetween
    assert(ChangeFeed.changesBetween(spark, table, v2, v2).count() == 0)
    assert(feedMap(ChangeFeed.changesSince(spark, table, v1).collect()) == feed)
  }

  test("golden vs in-memory fold diff: random events, seq-parity split") {
    val all = Generator.events(spark, 4000, numConvs = 20, turnsPerConv = 6, seed = 31)
      .as[ChangeEvent].collect().toSeq
    val (half, rest) = all.partition(_.seq % 2 == 0)
    // winners INCLUDING tombstones (oracleFold filters them; the feed needs them)
    def foldAll(es: Seq[ChangeEvent]): Map[(String, Int), ChangeEvent] =
      es.groupBy(e => (e.conv_id, e.turn_idx))
        .map { case (k, g) => k -> g.maxBy(e => (e.ts.getTime, e.seq)) }
    val f1 = foldAll(half); val f2 = foldAll(all)
    val expected = f2.flatMap { case (k, b) =>
      val a = f1.get(k)
      val aLive = a.exists(_.op != Model.OpDelete)
      val bLive = b.op != Model.OpDelete
      if (!aLive && bLive) Some(k -> (("insert", b.text, b.seq)))
      else if (aLive && !bLive) Some(k -> (("delete", a.get.text, a.get.seq)))
      else if (aLive && bLive && a.get.seq != b.seq)
        Some(k -> (("update", b.text, b.seq)))
      else None
    }

    val table = new LakeTable(tmpDir("feed-random"), numBuckets = 8)
    val v1 = apply(table, half, 0L)
    val v2 = apply(table, rest, 1L)
    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
      .map { case (k, (c, t, s, _)) => k -> ((c, t, s)) }
    assert(feed == expected)
  }

  test("bucket pruning is physical: unchanged buckets' files are never opened") {
    val table = new LakeTable(tmpDir("feed-prune"), numBuckets = 8)
    // spread keys over all buckets
    val base = (0 until 64).map(i =>
      ev(s"c$i", i % 4, s"t$i", "2025-01-01 00:00:00", "insert", i.toLong))
    val v1 = apply(table, base, 0L)
    // touch exactly one key → exactly its bucket's file list changes
    val v2 = apply(table, Seq(
      ev("c5", 1, "touched", "2025-01-01 01:00:00", "update", 1000)), 1L)

    val s1 = table.snapshotAt(v1).get
    val s2 = table.snapshotAt(v2).get
    val f1 = table.resolveFiles(s1); val f2 = table.resolveFiles(s2)
    val changed = (f1.keySet ++ f2.keySet)
      .filter(b => f1.getOrElse(b, Seq.empty) != f2.getOrElse(b, Seq.empty))
    assert(changed.size == 1)
    // physically remove every file of every UNCHANGED bucket: if the feed
    // tried to read any of them it would throw — black-box proof the diff
    // is O(changed buckets), not O(table)
    (f2.keySet -- changed).foreach { b =>
      f2(b).foreach { fe =>
        val p = java.nio.file.Paths.get(fe.path)
        java.nio.file.Files.move(p, p.resolveSibling(p.getFileName.toString + ".hidden"))
      }
    }
    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
    assert(feed == Map(("c5", 1) -> (("update", "touched", 1000L, null))))
  }

  test("MOR endpoints: delta-carrying snapshots diff correctly on both sides") {
    val table = new LakeTable(tmpDir("feed-mor"), numBuckets = 4)
    val v1 = apply(table, Seq(
      ev("c1", 0, "a", "2025-01-01 00:00:00", "insert", 1),
      ev("c2", 0, "b", "2025-01-01 00:00:01", "insert", 2)), 0L)
    // two MOR appends: v2 carries one delta, v3 two (both endpoints folded)
    val v2 = apply(table, Seq(
      ev("c1", 0, "a2", "2025-01-01 00:01:00", "update", 3)), 1L, mor = true)
    val v3 = apply(table, Seq(
      ev("c1", 0, "a3", "2025-01-01 00:02:00", "update", 4),
      ev("c2", 0, null, "2025-01-01 00:02:01", "delete", 5)), 2L, mor = true)
    assert(table.snapshotAt(v3).get.morDeltas)
    val feed12 = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
    assert(feed12 == Map(("c1", 0) -> (("update", "a2", 3L, null))))
    val feed23 = feedMap(ChangeFeed.changesBetween(spark, table, v2, v3).collect())
    assert(feed23 == Map(
      ("c1", 0) -> (("update", "a3", 4L, null)),
      ("c2", 0) -> (("delete", "b", 2L, null))))
  }

  test("additive evolution between endpoints: pre-images carry null for late columns") {
    val table = new LakeTable(tmpDir("feed-evolve"), numBuckets = 2)
    val v1Batch = Seq(
      ev("c1", 0, "old", "2025-01-01 00:00:00", "insert", 1),
      ev("c1", 1, "dying", "2025-01-01 00:00:01", "insert", 2))
    val v1 = {
      val df = spark.createDataset(v1Batch).toDF().drop("tool") // v1 schema: no tool
      MergeApplier.applyBatch(spark, table, df, "w", 0L)
      table.currentSnapshot().get.version
    }
    val v2 = apply(table, Seq(
      ev("c1", 0, "new", "2025-01-01 00:01:00", "update", 3, tool = Some("search")),
      ev("c1", 1, null, "2025-01-01 00:01:01", "delete", 4)), 1L)
    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v2).collect())
    // update post-image carries the evolved column; delete PRE-image (written
    // before the column existed) reads back null for it
    assert(feed == Map(
      ("c1", 0) -> (("update", "new", 3L, "search")),
      ("c1", 1) -> (("delete", "dying", 2L, null))))
  }

  test("compaction between endpoints: full rescan but exact; expired tombstone is not a change") {
    val table = new LakeTable(tmpDir("feed-compact"), numBuckets = 4)
    val v1 = apply(table, Seq(
      ev("c1", 0, "live", "2025-01-01 00:00:00", "insert", 1),
      ev("c2", 0, null, "2025-01-01 00:00:01", "delete", 2)), 0L) // tombstone at v1
    apply(table, Seq(
      ev("c1", 1, "added", "2025-01-01 00:01:00", "insert", 3)), 1L, mor = true)
    MergeApplier.compact(spark, table, ts("2025-06-01 00:00:00")) // expires c2's tombstone
    val v3 = table.currentSnapshot().get.version
    val feed = feedMap(ChangeFeed.changesBetween(spark, table, v1, v3).collect())
    // c2's tombstone vanished via expiry — nothing was ever visible → no change;
    // c1/0 unchanged winner survives the full rewrite without emitting
    assert(feed == Map(("c1", 1) -> (("insert", "added", 3L, null))))
  }

  test("property: feed between ANY two versions equals the in-memory fold diff") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def tsSec(sec: Int) = new Timestamp(1735689600000L + sec * 1000L)
    val eventGen: Gen[ChangeEvent] = for {
      conv <- Gen.choose(0, 5)
      turn <- Gen.choose(0, 3)
      sec <- Gen.choose(0, 50)
      op <- Gen.frequency(6 -> "insert", 2 -> "update", 2 -> "delete")
    } yield ChangeEvent(s"c$conv", turn, "user", s"t$conv-$turn-$sec",
      None, tsSec(sec), op, 0L)
    // winners INCLUDING tombstones; diff rules identical to the golden case.
    // `preImages`: an update also emits the old winner as update_preimage;
    // `tombstones`: a delete carries the `to` side's tombstone (every key of
    // `before` is in `after`: the histories are cumulative and compaction
    // here retains tombstones), not the pre-image
    def foldAll(es: Seq[ChangeEvent]): Map[(String, Int), ChangeEvent] =
      es.groupBy(e => (e.conv_id, e.turn_idx))
        .map { case (k, g) => k -> g.maxBy(e => (e.ts.getTime, e.seq)) }
    type FeedRow = (String, Int, String, String, Long)
    def expectedDiff(before: Seq[ChangeEvent], after: Seq[ChangeEvent],
        preImages: Boolean, tombstones: Boolean): Seq[FeedRow] = {
      val f1 = foldAll(before); val f2 = foldAll(after)
      f2.toSeq.flatMap { case (k, b) =>
        def row(change: String, e: ChangeEvent): FeedRow = (k._1, k._2, change, e.text, e.seq)
        val a = f1.get(k)
        val aLive = a.exists(_.op != Model.OpDelete)
        val bLive = b.op != Model.OpDelete
        if (!aLive && bLive) Seq(row("insert", b))
        else if (aLive && !bLive) Seq(row("delete", if (tombstones) b else a.get))
        else if (aLive && bLive && a.get.seq != b.seq)
          (if (preImages) Seq(row("update_preimage", a.get)) else Nil) :+ row("update", b)
        else Nil
      }.sorted
    }
    def feedRows(df: org.apache.spark.sql.DataFrame): Seq[FeedRow] =
      df.collect().toSeq.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        r.getAs[String]("change_type"), r.getAs[String]("text"), r.getAs[Long]("seq"))).sorted
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5),
      Prop.forAll(Gen.listOfN(60, eventGen),
          Gen.listOfN(8, Gen.oneOf("cow", "mor")),
          Gen.listOfN(8, Gen.oneOf(true, false))) { (events, modes, compacts) =>
        events.isEmpty || {
          val distinctSeq = events.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }
          val table = new LakeTable(tmpDir("feed-prop"), numBuckets = 4)
          val size = math.max(1, distinctSeq.size / 4)
          // (version, cumulative event prefix) after every commit — applies
          // AND compactions, so sampled pairs cross compaction boundaries
          val marks = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[ChangeEvent])]
          var applied = Seq.empty[ChangeEvent]
          distinctSeq.grouped(size).zipWithIndex.foreach { case (chunk, i) =>
            apply(table, chunk, i.toLong, mor = modes(i % modes.size) == "mor")
            applied ++= chunk
            marks += ((table.currentSnapshot().get.version, applied))
            if (compacts(i % compacts.size)) {
              MergeApplier.compactRetainTombstones(spark, table)
              marks += ((table.currentSnapshot().get.version, applied))
            }
          }
          // consecutive pairs + the full span (bounded job count per run)
          val pairs = marks.sliding(2).map(w => (w(0), w(1))).toSeq :+
            ((marks.head, marks.last))
          pairs.forall { case ((vA, evA), (vB, evB)) =>
            def cdf = spark.read.format("lake-cdf").option("path", table.root)
              .option("fromVersion", vA).option("toVersion", vB)
              .option("deleteTombstones", "true").load()
            feedRows(ChangeFeed.changesBetween(spark, table, vA, vB)) ==
              expectedDiff(evA, evB, preImages = false, tombstones = false) &&
            feedRows(ChangeFeed.changesBetween(spark, table, vA, vB,
              withUpdatePreImages = true)) ==
              expectedDiff(evA, evB, preImages = true, tombstones = false) &&
            feedRows(cdf) == expectedDiff(evA, evB, preImages = false, tombstones = true)
          }
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("oversized bucket: spilling merge-diff output == hash diff, batch and CDF source") {
    val table = new LakeTable(tmpDir("feed-spill"), numBuckets = 4)
    val all = Generator.events(spark, 2000, numConvs = 14, turnsPerConv = 5, seed = 83)
      .as[ChangeEvent].collect().toSeq
    val (h1, h2) = all.partition(_.seq % 2 == 0)
    val v1 = apply(table, h1, 0L)
    val v2 = apply(table, h2, 1L)
    def rows(t: LakeTable) = ChangeFeed.changesBetween(spark, t, v1, v2,
      withUpdatePreImages = true).collect().map(_.toString).sorted.toSeq
    val hash = rows(table)
    assert(BucketLocal.lastSpilled.isEmpty, "healthy buckets must take the hash diff")
    val spill = withSpillFoldBytes(1L)(rows(table))
    assert(BucketLocal.lastSpilled.nonEmpty, "1-byte threshold must force the spill diff")
    assert(spill == hash, "spill merge-diff must emit exactly the hash diff's rows")
    // the DSv2 CDF source honors the same session threshold
    def cdf() = spark.read.format("lake-cdf").option("path", table.root)
      .option("fromVersion", v1).option("toVersion", v2).load()
      .collect().map(_.toString).sorted.toSeq
    val cdfHash = cdf()
    assert(withSpillFoldBytes(1L)(cdf()) == cdfHash,
      "CDF reader's spill diff must emit exactly the hash diff's rows")
  }

  test("guard rails: unknown versions and reversed ranges fail loudly") {
    val table = new LakeTable(tmpDir("feed-guards"), numBuckets = 2)
    val v1 = apply(table, Seq(
      ev("c1", 0, "x", "2025-01-01 00:00:00", "insert", 1)), 0L)
    intercept[IllegalArgumentException] {
      ChangeFeed.changesBetween(spark, table, v1, v1 + 99)
    }
    intercept[IllegalArgumentException] {
      ChangeFeed.changesBetween(spark, table, v1 + 1, v1)
    }
  }
}

package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.{FileEntry, FileStats, LakeTable}
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Per-file key stats in the manifest (Iceberg's column bounds + a conv_id
  * bloom filter, for the table's key columns): tracked by every write
  * path's task writer — zero added I/O — and used by the
  * key-addressed lookups to open only the files that can hold the key.
  * The physical proofs DELETE the skippable files from disk: a lookup that
  * still answers exactly cannot have opened them. The bloom cases pin the
  * hash-layout scenario bounds cannot prune (every file's range covers the
  * key) and the no-false-negative contract.
  */
class FileStatsSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private def bounds(st: FileStats) = (st.minConv, st.maxConv, st.minTurn, st.maxTurn)

  private def ev(conv: String, turn: Int, text: String, t: String, seq: Long,
      op: String = "insert") =
    ChangeEvent(conv, turn, "user", text, None, Timestamp.valueOf(t), op, seq)

  private def batch(convPrefix: String, n: Int, seq0: Long): Seq[ChangeEvent] =
    (0 until n).flatMap(i => (0 until 4).map(turn =>
      ev(s"$convPrefix$i", turn, s"$convPrefix$i-t$turn", "2025-01-01 10:00:00", seq0 + i * 4 + turn)))

  private def allEntries(t: LakeTable): Seq[FileEntry] =
    t.resolveFiles(t.currentSnapshot().get).values.flatten.toSeq

  test("MOR delta commits carry exact key bounds in the manifest") {
    val t = new LakeTable(tmpDir("fs-mor"), numBuckets = 1) // one bucket: skipping is purely file-level
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("a", 5, 0)).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("b", 5, 100)).toDF(), "w", 1L, mode = "mor")
    val entries = allEntries(t)
    assert(entries.nonEmpty && entries.forall(_.stats.nonEmpty),
      s"every delta file must carry bounds: $entries")
    val byMin = entries.flatMap(_.stats).sortBy(_.minConv)
    assert(bounds(byMin.head) == ("a0", "a4", 0, 3))
    assert(bounds(byMin.last) == ("b0", "b4", 0, 3))
    assert(byMin.forall(_.bloom.nonEmpty), "delta stats must carry the conv bloom")
  }

  test("COW merge commits carry the written bucket's key bounds") {
    val t = new LakeTable(tmpDir("fs-cow"), numBuckets = 2)
    // cold start writes through the same task writer: every entry carries
    // the bounds of exactly its bucket's written keys, and its bloom admits
    // each written conv
    val first = batch("a", 3, 0)
    MergeApplier.applyBatch(spark, t, spark.createDataset(first).toDF(), "w", 0L)
    val cold = t.resolveFiles(t.currentSnapshot().get)
    val written = first.groupBy(e => t.bucketFor(e.conv_id, e.turn_idx))
    assert(cold.keySet == written.keySet)
    written.foreach { case (b, evs) =>
      assert(cold(b).size == 1, s"one file per written bucket: ${cold(b)}")
      val st = cold(b).head.stats.getOrElse(fail(s"bucket $b cold-start entry has no stats"))
      assert(bounds(st) == ((evs.map(_.conv_id).min, evs.map(_.conv_id).max,
        evs.map(_.turn_idx).min, evs.map(_.turn_idx).max)), st.toString)
      assert(st.bloom.nonEmpty && evs.forall(e => st.mightContainConv(e.conv_id)))
    }
    // the hot COW merge attaches the fold's winner bounds
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("b", 3, 100)).toDF(), "w", 1L)
    val entries = allEntries(t)
    assert(entries.exists(_.stats.nonEmpty), "merged buckets must carry bounds")
    entries.flatMap(_.stats).foreach { st =>
      // post-merge winners include batch a and b keys: bounds must span both
      assert(st.minConv.startsWith("a") && st.maxConv.startsWith("b"), st.toString)
      assert(st.minTurn >= 0 && st.maxTurn <= 3)
    }
  }

  test("physical skip: lookupTurn answers with the other deltas deleted from disk") {
    val t = new LakeTable(tmpDir("fs-skip"), numBuckets = 1)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("a", 5, 0)).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("b", 5, 100)).toDF(), "w", 1L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("c", 5, 200)).toDF(), "w", 2L, mode = "mor")
    // delete every file whose bounds exclude the probe key — if the lookup
    // opened any of them it would crash
    val (keep, skip) = allEntries(t).partition(_.stats.get.mightContain("a2", 3))
    assert(skip.size == 2, s"b and c deltas must be skippable: $skip")
    skip.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val row = t.lookupTurn(spark, "a2", 3).collect()
    assert(row.length == 1 && row.head.getAs[String]("text") == "a2-t3")
    // a key in a deleted file's range now (rightly) fails loudly
    intercept[Exception] { t.lookupTurn(spark, "b1", 0).collect() }
    assert(keep.nonEmpty)
  }

  test("physical skip: lookupConversation prunes by conv bounds alone") {
    val t = new LakeTable(tmpDir("fs-skip-conv"), numBuckets = 2)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("a", 4, 0)).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("b", 4, 100)).toDF(), "w", 1L, mode = "mor")
    allEntries(t).filter(f => !f.stats.get.mightContainConv("a1"))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val got = t.lookupConversation(spark, "a1").collect()
      .map(r => (r.getAs[Int]("turn_idx"), r.getAs[String]("text"))).toSet
    assert(got == (0 until 4).map(i => (i, s"a1-t$i")).toSet)
  }

  test("pruned lookups agree with the full read on a mixed stats/stat-less table") {
    val t = new LakeTable(tmpDir("fs-mixed"), numBuckets = 4)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("a", 6, 0)).toDF(), "w", 0L)
    // engine writes always carry stats: rewrite the base manifest as a
    // legacy stat-less one (the string entry form the manifest-format test
    // round-trips) to keep the table mixed
    locally {
      val s = t.currentSnapshot().get
      val legacy = t.writeManifest(s.version, t.resolveFiles(s).map { case (b, fs) =>
        b -> fs.map(_.copy(stats = None)) })
      val raw = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(legacy)))
      assert(!raw.contains("\"c0\""), s"legacy string form expected: $raw")
      t.commit(s.copy(version = s.version + 1, parentVersion = s.version,
        manifests = s.manifests.map(_.copy(path = legacy))))
    }
    MergeApplier.applyBatch(spark, t, spark.createDataset(
      batch("a", 6, 100) ++ batch("z", 3, 400)).toDF(), "w", 1L, mode = "mor") // stats
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("a3", 1, "newer", "2025-01-02 10:00:00", 999),
      ev("a4", 2, "", "2025-01-02 10:00:00", 1000, op = "delete"))).toDF(), "w", 2L, mode = "mor")
    assert(allEntries(t).exists(_.stats.isEmpty) && allEntries(t).exists(_.stats.nonEmpty))
    val full = t.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r.getAs[String]("text")).toMap
    for (conv <- Seq("a0", "a3", "a4", "z2", "nope"); turn <- 0 until 4) {
      val got = t.lookupTurn(spark, conv, turn).collect()
      full.get((conv, turn)) match {
        case Some(text) => assert(got.length == 1 && got.head.getAs[String]("text") == text,
          s"($conv,$turn): got ${got.toSeq}")
        case None => assert(got.isEmpty, s"($conv,$turn) should be absent, got ${got.toSeq}")
      }
    }
    val conv = t.lookupConversation(spark, "a3").collect()
      .map(r => r.getAs[Int]("turn_idx") -> r.getAs[String]("text")).toMap
    assert(conv == full.collect { case ((c, tu), tx) if c == "a3" => tu -> tx })
  }

  test("manifest format: stat-less entries keep the legacy string form; both round-trip") {
    val t = new LakeTable(tmpDir("fs-manifest"), numBuckets = 2)
    val bits = graft.table.ConvBloom.empty()
    graft.table.ConvBloom.add(bits, org.apache.spark.unsafe.types.UTF8String.fromString("c|3"))
    val files = Map(
      0 -> Seq(FileEntry("/x/old.parquet", 10L),
        FileEntry("/x/new.parquet", 20L, Some(FileStats("c|0", "c|9", 0, 7)))), // '|' in conv ids survives
      1 -> Seq(FileEntry("/x/plain.parquet", 30L),
        FileEntry("/x/bloomed.parquet", 40L, Some(FileStats("c|0", "c|9", 0, 7,
          graft.table.ConvBloom.seal(bits))))))
    val path = t.writeManifest(1L, files)
    assert(t.readManifest(path) == files) // incl. bloom bits, value-equal ArraySeq
    val raw = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    assert(raw.contains("\"10|/x/old.parquet\""), s"legacy string form expected: $raw")
    assert(raw.contains("\"c0\""), "stats object form expected")
    assert(raw.contains("\"b\""), "bloom field expected on the bloomed entry")
    val back = t.readManifest(path)(1).last.stats.get
    assert(back.mightContainConv("c|3") && !back.mightContainConv("c|4"),
      "bloom must prune INSIDE the covering range after the round-trip")
  }

  test("bloom skips where bounds cannot: interleaved key ranges on a hash layout") {
    // three deltas whose conv RANGES all cover the probe key — the exact
    // shape a hash-bucketed tail produces (each delta = a uniform sample of
    // the key space), where min/max pruning keeps every file
    val t = new LakeTable(tmpDir("fs-bloom"), numBuckets = 1)
    def span(mid: String, seq0: Long) = Seq(
      ev("a0", 0, s"a0@$seq0", "2025-01-01 10:00:00", seq0),
      ev(mid, 0, s"$mid@$seq0", "2025-01-01 10:00:00", seq0 + 1),
      ev("z9", 0, s"z9@$seq0", "2025-01-01 10:00:00", seq0 + 2))
    MergeApplier.applyBatch(spark, t, spark.createDataset(span("m1", 0)).toDF(), "w", 0L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(span("m2", 10)).toDF(), "w", 1L, mode = "mor")
    MergeApplier.applyBatch(spark, t, spark.createDataset(span("m3", 20)).toDF(), "w", 2L, mode = "mor")
    val entries = allEntries(t)
    assert(entries.size == 3)
    // bounds alone keep ALL files (every range is [a0, z9] ⊇ "m2")...
    assert(entries.forall { f =>
      val st = f.stats.get
      "m2" >= st.minConv && "m2" <= st.maxConv
    })
    // ...the bloom keeps exactly the one that holds it
    val (keep, skip) = entries.partition(_.stats.get.mightContainConv("m2"))
    assert(keep.size == 1 && skip.size == 2,
      s"bloom must prune the two m2-free deltas: keep=$keep skip=$skip")
    // physical proof: the lookup cannot have needed the skipped files
    skip.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val row = t.lookupTurn(spark, "m2", 0).collect()
    assert(row.length == 1 && row.head.getAs[String]("text") == "m2@10")
  }

  test("bloom has no false negatives: every written conv admits its own file") {
    val t = new LakeTable(tmpDir("fs-bloom-fn"), numBuckets = 4)
    // COW merge + MOR delta + unicode/edge conv ids through both paths
    val odd = Seq("", "日本-語", "a|b|c", "x" * 300, " nul")
    val evs = batch("fn", 8, 0) ++ odd.zipWithIndex.map { case (c, i) =>
      ev(c, 0, s"odd$i", "2025-01-01 10:00:00", 1000 + i) }
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("cold", 2, 500)).toDF(), "w", 0L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(evs).toDF(), "w", 1L)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("tail", 3, 2000)).toDF(), "w", 2L, mode = "mor")
    val live = t.read(spark).select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    assert(live.length == (8 + 2 + 3) * 4 + odd.size)
    val snap = t.currentSnapshot().get
    live.foreach { case (c, turn) =>
      val fs = t.resolveFiles(snap, Some(Set(t.bucketFor(c, turn)))).values.flatten
      assert(fs.exists(_.stats.forall(_.mightContain(c, turn))),
        s"($c,$turn) pruned everywhere — false negative")
    }
    // and the pruned lookups still answer for the edge ids
    odd.foreach { c =>
      assert(t.lookupTurn(spark, c, 0).collect().length == 1, s"lookup lost '$c'")
    }
  }

  test("bloom sizing adapts to file cardinality and stays prunable on bulk deltas") {
    import org.apache.spark.unsafe.types.UTF8String
    // tiny file → storage floor (64 longs)
    val small = graft.table.ConvBloom.empty()
    (0 until 50).foreach(i => graft.table.ConvBloom.add(small, UTF8String.fromString(s"c$i")))
    val sm = graft.table.ConvBloom.seal(small).get
    assert(sm.length == graft.table.ConvBloom.MinLongs, s"tiny file must fold to floor: ${sm.length}")
    (0 until 50).foreach(i => assert(graft.table.ConvBloom.mightContain(sm, s"c$i")))
    // bulk delta (30k convs — the regime that SATURATES a fixed 4096-bit
    // bloom): the sealed bloom must grow past the floor AND still prune
    val bulk = graft.table.ConvBloom.empty()
    (0 until 30000).foreach(i => graft.table.ConvBloom.add(bulk, UTF8String.fromString(s"conv-$i")))
    val bk = graft.table.ConvBloom.seal(bulk).get
    assert(bk.length > graft.table.ConvBloom.MinLongs, s"bulk bloom must keep bits: ${bk.length}")
    (0 until 30000 by 97).foreach(i =>
      assert(graft.table.ConvBloom.mightContain(bk, s"conv-$i"), "false negative on bulk"))
    val fp = (0 until 2000).count(i => graft.table.ConvBloom.mightContain(bk, s"absent-$i"))
    assert(fp < 2000 * 0.07, s"bulk bloom fpp must stay ≤ ~1/16 (fill≤50%, k=4): $fp/2000")
    // pathological cardinality (≥90% fill even at 2^19 bits) → dropped
    val sat = graft.table.ConvBloom.empty()
    (0 until 600000).foreach(i => graft.table.ConvBloom.add(sat, UTF8String.fromString(s"s$i")))
    assert(graft.table.ConvBloom.seal(sat).isEmpty, "saturated bloom must be dropped, not shipped")
  }

  test("files carry event-time bounds; the manifest round-trips them") {
    val t = new LakeTable(tmpDir("fs-ts"), numBuckets = 1)
    MergeApplier.applyBatch(spark, t, spark.createDataset(Seq(
      ev("a0", 0, "x", "2025-01-01 10:00:00", 0),
      ev("a1", 0, "y", "2025-03-01 10:00:00", 1))).toDF(), "w", 0L, mode = "mor")
    val st = allEntries(t).head.stats.get
    val lo = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(Timestamp.valueOf("2025-01-01 10:00:00"))
    val hi = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .fromJavaTimestamp(Timestamp.valueOf("2025-03-01 10:00:00"))
    assert(st.minTsUs.contains(lo) && st.maxTsUs.contains(hi), st.toString)
    assert(st.mightOverlapTs(hi, Long.MaxValue) && st.mightOverlapTs(Long.MinValue, lo))
    assert(!st.mightOverlapTs(hi + 1, Long.MaxValue) && !st.mightOverlapTs(Long.MinValue, lo - 1))
    // stat-less / legacy entries (no ts bounds) always admit
    assert(FileStats("a", "z", 0, 1).mightOverlapTs(Long.MinValue, Long.MaxValue))
    assert(FileStats("a", "z", 0, 1).mightOverlapTs(5, 5))
  }

  test("physical skip: DSv2 scan with a ts window never opens out-of-window buckets (MOR)") {
    val root = tmpDir("fs-ts-mor") + "/t"
    val t = new LakeTable(root, numBuckets = 2)
    // segregate event time BY BUCKET: every (conv,turn) landing in bucket 0
    // gets January, bucket 1 gets June — so bucket 0's files are entirely
    // outside a summer window and the whole bucket must be skipped
    val cand = for (i <- 0 until 30; turn <- 0 until 2) yield (s"c$i", turn)
    val evs = cand.zipWithIndex.map { case ((c, turn), i) =>
      val old = t.bucketFor(c, turn) == 0
      ev(c, turn, s"$c-t$turn", if (old) "2025-01-05 00:00:00" else "2025-06-05 00:00:00", i.toLong)
    }
    assert(evs.exists(e => t.bucketFor(e.conv_id, e.turn_idx) == 0) &&
      evs.exists(e => t.bucketFor(e.conv_id, e.turn_idx) == 1))
    MergeApplier.applyBatch(spark, t, spark.createDataset(evs).toDF(), "w", 0L, mode = "mor")
    val cut = Timestamp.valueOf("2025-06-01 00:00:00")
    val expected = evs.filter(e => !e.ts.before(cut)).map(e => (e.conv_id, e.turn_idx)).toSet
    // delete bucket 0's delta from disk — a scan that opened it would crash
    val cutUs = org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(cut)
    val (keep, skip) = allEntries(t).partition(_.stats.get.mightOverlapTs(cutUs, Long.MaxValue))
    assert(skip.nonEmpty && keep.nonEmpty, s"keep=$keep skip=$skip")
    skip.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val got = spark.read.format("lake").option("path", root).load()
      .filter(org.apache.spark.sql.functions.col("ts") >= org.apache.spark.sql.functions.lit(cut))
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    // and without the ts predicate the scan rightly needs the deleted file
    intercept[Exception] {
      spark.read.format("lake").option("path", root).load().collect()
    }
  }

  test("physical skip: ts window prunes per FILE on a compacted (key-unique) snapshot") {
    val root = tmpDir("fs-ts-cow") + "/t"
    val t = new LakeTable(root, numBuckets = 2)
    val cand = for (i <- 0 until 30; turn <- 0 until 2) yield (s"d$i", turn)
    val evs = cand.zipWithIndex.map { case ((c, turn), i) =>
      val old = t.bucketFor(c, turn) == 0
      ev(c, turn, s"$c-t$turn", if (old) "2025-01-05 00:00:00" else "2025-06-05 00:00:00", i.toLong)
    }
    MergeApplier.applyBatch(spark, t, spark.createDataset(evs).toDF(), "w", 0L, mode = "mor")
    MergeApplier.compactRetainTombstones(spark, t) // compaction stats carry ts bounds
    assert(!t.currentSnapshot().get.morDeltas)
    assert(allEntries(t).forall(_.stats.exists(_.minTsUs.nonEmpty)))
    val cut = Timestamp.valueOf("2025-06-01 00:00:00")
    val cutUs = org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(cut)
    val (keep, skip) = allEntries(t).partition(_.stats.get.mightOverlapTs(cutUs, Long.MaxValue))
    assert(skip.nonEmpty && keep.nonEmpty)
    skip.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    val got = spark.read.format("lake").option("path", root).load()
      .filter(org.apache.spark.sql.functions.col("ts") >= org.apache.spark.sql.functions.lit(cut))
      .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSet
    val expected = evs.filter(e => !e.ts.before(cut)).map(e => (e.conv_id, e.turn_idx)).toSet
    assert(got == expected)
  }

  test("streaming sink epochs carry bounds; sink deltas are skippable") {
    val src = tmpDir("fs-sink-src")
    val root = s"${tmpDir("fs-sink")}/t"
    val ckpt = tmpDir("fs-sink-ckpt")
    val t = new LakeTable(root, numBuckets = 1)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("a", 3, 0)).toDF(), "seed", 0L, mode = "mor")
    writeFlatParquet(spark.createDataset(batch("q", 3, 100)).toDF().drop("op"), src, "e0.parquet")
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        Model.changeEventSchema.fields.filterNot(_.name == "op")))
      .parquet(src)
      .writeStream.format("lake")
      .option("path", root).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val entries = allEntries(t)
    assert(entries.forall(_.stats.nonEmpty), s"sink files must carry bounds: $entries")
    val sinkStats = entries.flatMap(_.stats).filter(_.minConv.startsWith("q"))
    assert(sinkStats.nonEmpty && sinkStats.forall(st =>
      bounds(st) == ("q0", "q2", 0, 3) && st.bloom.nonEmpty))
    // and they skip: drop the sink delta, the seed conversation still reads
    entries.filter(!_.stats.get.mightContainConv("a1"))
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f.path)))
    assert(t.lookupTurn(spark, "a1", 2).collect().map(_.getAs[String]("text")).toSeq == Seq("a1-t2"))
  }
  test("SQL row-level ops: the carried-over tombstones' delta files carry stats") {
    val base = tmpDir("fs-rlo-tomb")
    val t = new LakeTable(s"$base/convs", numBuckets = 2)
    MergeApplier.applyBatch(spark, t, spark.createDataset(batch("k", 6, 0)).toDF(), "w", 0L)
    val deletes = (0 until 6).filter(_ % 2 == 0).flatMap(i => Seq(1, 3).map(turn =>
      ev(s"k$i", turn, null, "2025-01-01 11:00:00", 100L + i * 4 + turn, op = Model.OpDelete)))
    MergeApplier.applyBatch(spark, t, spark.createDataset(deletes).toDF(), "w", 1L)
    spark.conf.set("spark.sql.catalog.fsrlo", classOf[graft.table.LakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.fsrlo.base", base)
    spark.sql("UPDATE fsrlo.convs SET role = 'assistant'") // replaces every bucket
    val snap = t.currentSnapshot().get
    val files = t.resolveFiles(snap)
    val carried = files.map { case (b, fs) => b -> fs.filter(_.path.contains("/tombstones/")) }
      .filter(_._2.nonEmpty)
    val byBucket = deletes.groupBy(e => t.bucketFor(e.conv_id, e.turn_idx))
    assert(carried.keySet == byBucket.keySet, s"tombstone-carry files: $carried")
    carried.foreach { case (b, fs) =>
      fs.foreach { f =>
        val st = f.stats.getOrElse(fail(s"bucket $b tombstone-carry entry has no stats: $f"))
        val evs = byBucket(b)
        assert(bounds(st) == ((evs.map(_.conv_id).min, evs.map(_.conv_id).max,
          evs.map(_.turn_idx).min, evs.map(_.turn_idx).max)), st.toString)
        assert(st.bloom.nonEmpty && evs.forall(e => st.mightContainConv(e.conv_id)))
      }
      // the commit's row count for the bucket is the replacement file's rows
      // plus exactly the carried tombstones (parquet footers as the oracle)
      val footers = t.footerRowCounts(Map(b -> fs))
      val rest = t.footerRowCounts(Map(b -> files(b).filterNot(fs.contains)))
      assert(footers(b) == byBucket(b).size.toLong)
      assert(snap.bucketRows(b) - rest.getOrElse(b, 0L) == footers(b))
    }
    assert(snap.bucketRows == t.footerRowCounts(files))
  }
}

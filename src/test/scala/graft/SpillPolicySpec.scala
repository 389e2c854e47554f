package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{BucketLocal, ChangeFeed, MergeApplier}
import graft.table.LakeTable
import org.apache.spark.sql.Row

import java.sql.Timestamp

/** The spill decision is made per bucket: in a MOR table where exactly one
  * bucket's manifest bytes exceed the session's spill threshold
  * (`graft.lake.spillFoldBytes`), every fold path — read,
  * the Spark path of a lookup, the change feed, the DSv2 reader, full and
  * selective compaction — sends exactly that bucket to the sort fold, and
  * returns what the hash fold and `Generator.oracleFold` return.
  */
class SpillPolicySpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val HotConv = "conv_hot"

  private def state(rows: Iterable[Row]): Map[(String, Int), (String, Long)] =
    rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
      ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  private def oracle(events: Seq[ChangeEvent]): Map[(String, Int), (String, Long)] =
    Generator.oracleFold(events).map { case (k, e) => k -> ((e.text, e.seq)) }

  /** A 4-bucket MOR table of 4 delta commits. Each commit carries background
    * events on every bucket and 300 versions, with 200-byte texts, of the
    * hot conversation's turns — all of which hash to one bucket, the hot
    * one. Returns the table, each commit's events, the version after the
    * second commit, and the hot bucket.
    */
  private def build(name: String): (LakeTable, Seq[Seq[ChangeEvent]], Long, Int) = {
    val table = new LakeTable(tmpDir(name), numBuckets = 4)
    val hot = table.bucketFor(HotConv, 0)
    val hotTurns = (0 until 64).filter(table.bucketFor(HotConv, _) == hot)
    val background = Generator.events(spark, 1200, numConvs = 12, turnsPerConv = 5,
      seed = 29, zipfSkew = 1.0).as[ChangeEvent].collect().toSeq.sortBy(_.seq)
    val rnd = new scala.util.Random(29)
    val t0 = Timestamp.valueOf("2025-01-01 00:00:00").getTime
    val hotEvents = (0 until 1200).map { i =>
      ChangeEvent(HotConv, hotTurns(i % hotTurns.size), "user", rnd.alphanumeric.take(200).mkString,
        None, new Timestamp(t0 + i * 1000L),
        if (i < hotTurns.size) Model.OpInsert else Model.OpUpdate, 10000L + i)
    }
    val chunks = background.grouped(300).toSeq.zip(hotEvents.grouped(300).toSeq)
      .map { case (bg, h) => bg ++ h }
    var mid = 0L
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      MergeApplier.applyBatch(spark, table, spark.createDataset(chunk).toDF(), "t", i.toLong, mode = "mor")
      if (i == 1) mid = table.currentSnapshot().get.version
    }
    assert(table.currentSnapshot().get.morDeltas)
    (table, chunks, mid, hot)
  }

  /** A threshold between the hot bucket's bytes and the next largest. */
  private def threshold(table: LakeTable, hot: Int): Long = {
    val bytes = table.resolveFiles(table.currentSnapshot().get)
      .map { case (b, fs) => b -> fs.map(_.bytes).sum }
    val sorted = bytes.values.toSeq.sorted
    assert(sorted.size == 4 && bytes(hot) == sorted.last && sorted(2) < sorted.last)
    (sorted(2) + sorted.last) / 2
  }

  test("one oversized bucket: read, Spark-path lookup, change feed and DSv2 read spill only it") {
    val (table, chunks, mid, hot) = build("policy-read")
    val all = chunks.flatten
    val thr = threshold(table, hot)
    // `f` under the default threshold (hash fold everywhere) and under `thr`
    // (the hot bucket sorts): the same result, and the record names the hot
    // bucket only
    def both[T](what: String)(f: => T): T = {
      val hash = f
      assert(BucketLocal.lastSpilled.isEmpty, s"$what: the default must hash-fold every bucket")
      val spill = withSpillFoldBytes(thr)(f)
      assert(BucketLocal.lastSpilled == Set(hot), s"$what: want only bucket $hot sorted")
      assert(spill == hash, s"$what: the sort fold differs from the hash fold")
      spill
    }
    val read = both("read")(table.read(spark).collect().toSet)
    assert(state(read) == oracle(all))
    // the hot bucket really went through the sort: its winners come out in
    // key order, which the hash fold does not give
    val hotKeys = withSpillFoldBytes(thr) {
      val s = table.currentSnapshot().get
      BucketLocal.readFolded(spark, s, table.resolveFiles(s)).rdd
        .mapPartitionsWithIndex { (b, rows) =>
          if (b == hot) rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")))
          else Iterator.empty
        }.collect().toSeq
    }
    assert(hotKeys.size > 1 && hotKeys == hotKeys.sorted)

    val bound = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(bound)
    spark.conf.set(bound, "-1")
    val conv = try both("lookupConversation")(table.lookupConversation(spark, HotConv).collect().toSet)
      finally saved.fold(spark.conf.unset(bound))(spark.conf.set(bound, _))
    assert(state(conv) == oracle(all).filter(_._1._1 == HotConv))

    val head = table.currentSnapshot().get.version
    val feed = both("changesBetween")(ChangeFeed.changesBetween(spark, table, mid, head).collect().toSet)
    val (before, after) = (Generator.oracleFold(chunks.take(2).flatten), Generator.oracleFold(all))
    val want = (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a)) => Some(k -> (("insert", a.seq)))
        case (Some(b), None) => Some(k -> (("delete", b.seq)))
        case (Some(b), Some(a)) if b.seq != a.seq => Some(k -> (("update", a.seq)))
        case _ => None
      }
    }.toMap
    assert(feed.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
      ((r.getAs[String](ChangeFeed.ChangeTypeCol), r.getAs[Long]("seq")))).toMap == want)

    def lake() = spark.read.format("lake").option("path", table.root).load().collect().toSet
    val lakeHash = lake()
    assert(BucketLocal.lastSpilled.isEmpty, "DSv2: the default must hash-fold every bucket")
    val lakeSpill = withSpillFoldBytes(thr)(lake())
    assert(BucketLocal.lastSpilled == Set(hot), s"DSv2: want only bucket $hot sorted")
    assert(lakeSpill == lakeHash)
    assert(state(lakeSpill) == oracle(all))
  }

  test("one oversized bucket: full and selective compaction spill only it") {
    for (selective <- Seq(false, true)) {
      val (table, chunks, _, hot) = build(s"policy-compact-$selective")
      val thr = threshold(table, hot)
      val snap = table.currentSnapshot().get
      val hashFold = BucketLocal.readFolded(spark, snap, table.resolveFiles(snap))
        .collect().toSet
      withSpillFoldBytes(thr) {
        if (selective)
          MergeApplier.compactBucketsRetainTombstones(spark, table, Set(hot, (hot + 1) % 4))
        else MergeApplier.compactRetainTombstones(spark, table)
      }
      assert(BucketLocal.lastSpilled == Set(hot), s"selective=$selective")
      // tombstones retained: the compacted table folds to the same winners
      // the hash fold gave before compaction
      val after = table.currentSnapshot().get
      assert(BucketLocal.readFolded(spark, after, table.resolveFiles(after))
        .collect().toSet == hashFold, s"selective=$selective")
      if (!selective) assert(table.readRaw(spark).collect().toSet == hashFold)
      assert(state(table.read(spark).collect()) == oracle(chunks.flatten), s"selective=$selective")
    }
  }
}

package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.{BucketLocal, Lww, LwwAggregator, MergeApplier}
import graft.table.LakeTable
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY §5 property tests: (a) permutation invariance of LWW, (b) any
  * batch split of the same event set converges to the same final table,
  * (c) re-applying any committed batch is a no-op, and (d) every LWW
  * implementation applies the one version order.
  */
class LwwPropertySpec extends SparkSpecBase {

  private def check(minSuccessful: Int)(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }
  import Model.changeEventEncoder

  private def ts(sec: Int) = new java.sql.Timestamp(1735689600000L + sec * 1000L)

  private val eventGen: Gen[ChangeEvent] = for {
    conv <- Gen.choose(0, 5)
    turn <- Gen.choose(0, 3)
    sec <- Gen.choose(0, 50)
    op <- Gen.frequency(7 -> "insert", 2 -> "update", 1 -> "delete")
    seq <- Gen.choose(0L, 100000L)
  } yield ChangeEvent(s"c$conv", turn, "user", s"t$conv-$turn-$sec-$seq",
    None, ts(sec), op, seq)

  private def fold(events: Seq[ChangeEvent]): Map[(String, Int), (String, Long)] =
    Generator.oracleFold(events).map { case (k, e) => k -> ((e.text, e.seq)) }

  test("property: Model order, BucketLocal.wins and LwwAggregator pick the same winner; a full tie keeps the incumbent") {
    // small ranges so full (ts, seq) ties are frequent; None = null ts
    val version: Gen[(Option[Long], Long)] = for {
      ts <- Gen.option(Gen.choose(0L, 2L).map(_ * 1000L))
      seq <- Gen.choose(0L, 2L)
    } yield (ts, seq)
    def event(v: (Option[Long], Long), text: String) = ChangeEvent("c", 0, "user", text, None,
      v._1.map(DateTimeUtils.toJavaTimestamp).orNull, "insert", v._2)
    def row(v: (Option[Long], Long)) =
      new GenericInternalRow(Array[Any](v._1.getOrElse(null), v._2))
    check(500)(Prop.forAll(version, version) { (cur, e) =>
      val model = Model.supersedes(e._1.getOrElse(Long.MinValue), e._2,
        cur._1.getOrElse(Long.MinValue), cur._2)
      // the order itself: lexicographic (ts, seq), null ts lowest, strict
      val lex = Ordering[(Long, Long)].gt((e._1.getOrElse(Long.MinValue), e._2),
        (cur._1.getOrElse(Long.MinValue), cur._2))
      val incumbent = event(cur, "cur")
      val challenger = event(e, "e")
      val typed = LwwAggregator.reduce(incumbent, challenger)
      val tie = cur == e
      model == lex && model == BucketLocal.wins(row(e), row(cur), 0, 1) &&
        (typed eq (if (model) challenger else incumbent)) &&
        (LwwAggregator.merge(incumbent, challenger) eq typed) &&
        (!tie || !model)
    })
  }

  test("property: LWW winners are invariant under input permutation") {
    check(8)(Prop.forAll(Gen.listOfN(80, eventGen)) { events =>
      events.isEmpty || {
        val distinctSeq = events.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }
        val winners = Lww.latestByKeyAgg(
          spark.createDataset(scala.util.Random.shuffle(distinctSeq)).toDF())
          .collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
            ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap
        val expected = distinctSeq.groupBy(e => (e.conv_id, e.turn_idx))
          .map { case (k, es) => k -> es.maxBy(e => (e.ts.getTime, e.seq)) }
          .map { case (k, e) => k -> ((e.text, e.seq)) }
        winners == expected
      }
    })
  }

  test("property: random COW/MOR interleavings with empty batches, compactions and vacuums converge") {
    // the strongest end-to-end guarantee: ANY interleaving of copy-on-write
    // merges, merge-on-read delta appends, idle (empty) batches,
    // tombstone-retaining compactions, and zero-grace vacuums (no live
    // writer between applies) reads back as the oracle fold
    check(5)(Prop.forAll(
        Gen.listOfN(60, eventGen), Gen.choose(2, 5),
        Gen.listOfN(8, Gen.oneOf("cow", "mor")),
        Gen.listOfN(8, Gen.oneOf(true, false))) { (events, nBatches, modes, maint) =>
      events.isEmpty || {
        val distinctSeq = events.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }
        val table = new LakeTable(tmpDir("prop-mm"), numBuckets = 4)
        val size = math.max(1, distinctSeq.size / nBatches)
        var batchId = 0L
        var versionsAfterEmpty = true
        distinctSeq.grouped(size).zipWithIndex.foreach { case (chunk, i) =>
          val df = spark.createDataset(chunk).toDF()
          if (modes(i % modes.size) == "cow")
            MergeApplier.applyBatch(spark, table, df, "w", batchId)
          else
            MergeApplier.applyBatch(spark, table, df, "w", batchId, mode = "mor")
          batchId += 1
          if (maint(i % maint.size)) {
            // idle batch: must commit no version...
            val before = table.currentSnapshot().get.version
            MergeApplier.applyBatch(spark, table,
              spark.createDataset(Seq.empty[ChangeEvent]).toDF(), "w", batchId)
            batchId += 1
            versionsAfterEmpty &&= table.currentSnapshot().get.version == before
            // ...and compaction must preserve state (tombstones retained)
            MergeApplier.compactRetainTombstones(spark, table)
            // ...and a maintenance vacuum must neither disturb state nor
            // break the ledger for the batches still to come
            table.vacuum(keepLast = 1, graceMs = 0L)
          }
        }
        val got = table.read(spark).collect()
          .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
            ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap
        versionsAfterEmpty && got == fold(distinctSeq)
      }
    })
  }

  test("property: any batch split replays to the same final table state") {
    check(5)(Prop.forAll(Gen.listOfN(60, eventGen), Gen.choose(1, 5)) {
      (events, nBatches) =>
      events.isEmpty || {
        val distinctSeq = events.zipWithIndex.map { case (e, i) => e.copy(seq = i.toLong) }
        val table = new LakeTable(tmpDir("prop"), numBuckets = 4)
        val size = math.max(1, distinctSeq.size / nBatches)
        distinctSeq.grouped(size).zipWithIndex.foreach { case (chunk, i) =>
          MergeApplier.applyBatch(spark, table,
            spark.createDataset(chunk).toDF(), "w", i.toLong)
        }
        val got = table.read(spark).collect()
          .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
            ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap
        val v = table.currentSnapshot().get.version
        // (c) re-apply the first batch -> no-op
        MergeApplier.applyBatch(spark, table,
          spark.createDataset(distinctSeq.take(size)).toDF(), "w", 0L)
        got == fold(distinctSeq) && table.currentSnapshot().get.version == v
      }
    })
  }
}

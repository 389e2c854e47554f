package graft

import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Soundness property of the metadata aggregate pushdown: over RANDOM
  * histories of COW/MOR batches, deletes and compaction flavors, the
  * pushed COUNT/MIN/MAX row must equal the forced-scan row in EVERY state
  * — the pushdown may engage or not (that depends on tombstone knowledge),
  * but it must never change an answer.
  */
class AggPushdownPropertySpec extends SparkSpecBase {
  import Model.changeEventEncoder

  test("random op/compaction histories: pushed aggregates == forced-scan aggregates") {
    val rnd = new scala.util.Random(42)
    var seq = 0L
    var sawPushed = false
    var sawFallback = false
    for (round <- 1 to 4) {
      val root = tmpDir(s"aggprop-$round")
      val t = new LakeTable(root, numBuckets = 4)
      for (b <- 0 until 4) {
        val evs = (0 until 30).map { _ =>
          seq += 1
          val op = if (rnd.nextInt(10) < 2) Model.OpDelete else Model.OpInsert
          ChangeEvent(s"c${rnd.nextInt(40)}", rnd.nextInt(3), "user",
            if (op == Model.OpDelete) null else s"v$seq", None,
            Timestamp.valueOf(s"2025-01-0${1 + rnd.nextInt(8)} 10:00:00"), op, seq)
        }
        val df = spark.createDataset(evs).toDF()
        if (rnd.nextBoolean()) MergeApplier.applyBatch(spark, t, df, "w", b.toLong)
        else MergeApplier.applyBatch(spark, t, df, "w", b.toLong, mode = "mor")
        rnd.nextInt(4) match {
          case 0 => MergeApplier.compactRetainTombstones(spark, t)
          case 1 => MergeApplier.compact(spark, t,
            Timestamp.valueOf("2030-01-01 00:00:00")) // expires every tombstone
          case _ => ()
        }
      }
      def aggRow(forceScan: Boolean) = {
        val base = spark.read.format("lake").option("path", root).load()
        val df = if (forceScan) base.filter(length(col("conv_id")) >= 0) else base
        val a = df.agg(count(lit(1)).as("n"),
          min("conv_id").as("mnc"), max("conv_id").as("mxc"),
          min("turn_idx").as("mnt"), max("turn_idx").as("mxt"))
        (a.collect().head,
          a.queryExecution.executedPlan.toString.contains("LakeAggScan"))
      }
      val (pushedRow, engaged) = aggRow(forceScan = false)
      val (scanRow, scanEngaged) = aggRow(forceScan = true)
      assert(!scanEngaged, "the residual filter must block the pushdown")
      assert(pushedRow == scanRow,
        s"round $round: pushed $pushedRow != scan $scanRow (engaged=$engaged)")
      if (engaged) sawPushed = true else sawFallback = true
    }
    // the property only means something if both paths actually occurred
    assert(sawPushed && sawFallback,
      s"history must exercise both pushdown and fallback (pushed=$sawPushed, fallback=$sawFallback)")
  }
}

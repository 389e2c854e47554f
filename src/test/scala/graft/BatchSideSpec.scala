package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.table.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.graftbridge.ScanBridge

/** The plan of an apply's batch side (MergeApplier.batchSide). A batch whose
  * size estimate × bucket count is within `spark.sql.autoBroadcastJoinThreshold`
  * and whose plan is deterministic is copied to the bucket tasks: the apply
  * is one job of one stage with no shuffle. Every other batch takes the
  * `repartition(N, key)` exchange. Both leave the oracle's state.
  */
class BatchSideSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val numBuckets = 4

  private def events(seed: Long): Seq[ChangeEvent] =
    Generator.events(spark, 1200, numConvs = 15, turnsPerConv = 6, seed = seed)
      .as[ChangeEvent].collect().toSeq.sortBy(_.seq)

  private def finalState(t: LakeTable): Map[(String, Int), (String, Long)] =
    t.read(spark).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[String]("text"), r.getAs[Long]("seq")))).toMap

  private def oracle(all: Seq[ChangeEvent]) =
    Generator.oracleFold(all).map { case (k, e) => k -> ((e.text, e.seq)) }

  /** Apply `all` in three batches (COW or MOR) under `threshold`, the batch
    * frames shaped by `shape`; the plan of each apply after the first.
    */
  private def applyAll(name: String, all: Seq[ChangeEvent], mor: Boolean,
      threshold: Option[String], shape: DataFrame => DataFrame = identity)
      : (LakeTable, Seq[SparkSpecBase.JobPlan]) = {
    val t = new LakeTable(tmpDir(name), numBuckets)
    val plans = withConf(Threshold, threshold) {
      all.grouped(400).zipWithIndex.toSeq.map { case (chunk, i) =>
        val df = shape(spark.createDataset(chunk).toDF())
        jobPlan {
          if (mor) MergeApplier.applyBatchMor(spark, t, df, "w", i.toLong)
          else MergeApplier.applyBatch(spark, t, df, "w", i.toLong)
        }
      }
    }
    (t, plans.tail)
  }

  private def copied(p: SparkSpecBase.JobPlan) =
    p.jobs == 1 && p.stages == 1 && p.shuffleWriteBytes == 0L
  private def exchanged(p: SparkSpecBase.JobPlan) = p.stages == 2 && p.shuffleWriteBytes > 0L

  test("a small batch applies in one job of one stage with no shuffle (COW and MOR)") {
    val all = events(71)
    Seq(false, true).foreach { mor =>
      val (t, plans) = applyAll(s"bs-small-$mor", all, mor, threshold = None)
      assert(plans.forall(copied), s"mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"mor=$mor")
    }
  }

  test("threshold -1, or bytes × buckets above it, keeps the exchange") {
    val all = events(73)
    val batch = spark.createDataset(all.take(400)).toDF()
    val bytes = batch.queryExecution.analyzed.stats.sizeInBytes
    // the bound admits the batch for one copy but not for one per bucket
    val between = (bytes * (numBuckets - 1)).toString
    withConf(Threshold, Some(between)) {
      assert(ScanBridge.copyable(batch, 1) && !ScanBridge.copyable(batch, numBuckets))
    }
    for (threshold <- Seq("-1", between); mor <- Seq(false, true)) {
      val (t, plans) = applyAll(s"bs-exchange-$mor", all, mor, Some(threshold))
      assert(plans.forall(exchanged), s"threshold=$threshold mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"threshold=$threshold mor=$mor")
    }
  }

  test("a nondeterministic batch plan keeps the exchange") {
    val all = events(79)
    // a small parquet batch (the optimizer would evaluate a filter over a
    // local relation on the driver); the filter keeps every row, but a copy
    // per task would number the rows its own way
    def parquet(df: DataFrame) = {
      val dir = tmpDir("bs-nondet-batch")
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val shape = (df: DataFrame) => parquet(df).filter(monotonically_increasing_id() >= 0L)
    val sample = parquet(spark.createDataset(all.take(400)).toDF())
    assert(ScanBridge.copyable(sample, numBuckets))
    assert(!ScanBridge.copyable(shape(spark.createDataset(all.take(400)).toDF()), numBuckets))
    Seq(false, true).foreach { mor =>
      val (t, plans) = applyAll(s"bs-nondet-$mor", all, mor, threshold = None, shape)
      assert(plans.forall(exchanged), s"mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"mor=$mor")
    }
  }
}

package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.{BucketFileWriter, LakeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.sql.graftbridge.ScanBridge

/** The plan of an apply's batch side (MergeApplier.batchSide). A batch whose
  * size estimate × bucket count is within `spark.sql.autoBroadcastJoinThreshold`
  * and whose plan is deterministic and narrow is split on the driver: the
  * apply runs no job, or one job of one stage with no shuffle when the
  * touched buckets' bytes exceed the threshold. Every other batch takes the
  * `repartition(N, key)` exchange. All leave the oracle's state.
  */
class BatchSideSpec extends SparkSpecBase {
  import Model.changeEventEncoder

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"
  private val numBuckets = 4

  private def events(seed: Long, n: Int = 1200, numConvs: Int = 15): Seq[ChangeEvent] =
    Generator.events(spark, n, numConvs = numConvs, turnsPerConv = 6, seed = seed)
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

  private def sliced(p: SparkSpecBase.JobPlan) =
    p.jobs == 1 && p.stages == 1 && p.shuffleWriteBytes == 0L
  private def exchanged(p: SparkSpecBase.JobPlan) = p.stages == 2 && p.shuffleWriteBytes > 0L

  test("a small batch applies on the driver with no job (COW, MOR and stageBatch)") {
    val all = events(71)
    Seq(false, true).foreach { mor =>
      val (t, plans) = applyAll(s"bs-small-$mor", all, mor, threshold = None)
      assert(plans.forall(_.jobs == 0), s"mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"mor=$mor")
    }
    val t = new LakeTable(tmpDir("bs-small-staged"), numBuckets)
    val (first, rest) = all.splitAt(800)
    MergeApplier.applyBatch(spark, t, spark.createDataset(first).toDF(), "w", 0L)
    var staged: Option[String] = None
    val plan = jobPlan {
      staged = MergeApplier.stageBatch(spark, t, spark.createDataset(rest).toDF(), "w", 1L)
    }
    assert(plan.jobs == 0, plan)
    t.publishStaged(staged.get)
    assert(finalState(t) == oracle(all))
  }

  test("a small batch against touched buckets above the threshold runs one job of one stage") {
    val all = events(83, n = 3000, numConvs = 200)
    val (preload, tail) = all.splitAt(2960)
    val t = new LakeTable(tmpDir("bs-sliced"), numBuckets)
    MergeApplier.applyBatch(spark, t, spark.createDataset(preload).toDF(), "w", 0L)
    tail.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
      val batch = spark.createDataset(chunk).toDF()
      // the bound admits the batch for one copy per bucket, but not the
      // bytes of the buckets it touches
      val bound = batch.queryExecution.analyzed.stats.sizeInBytes * numBuckets
      val touched = chunk.map(e => t.bucketFor(e.conv_id, e.turn_idx)).toSet
      val touchedBytes = t.resolveFiles(t.currentSnapshot().get).filter(f => touched(f._1))
        .values.flatten.map(_.bytes).sum
      assert(touchedBytes > bound, s"batch $i: $touchedBytes touched bytes within $bound")
      val plan = withConf(Threshold, Some(bound.toString)) {
        assert(ScanBridge.copyable(batch, numBuckets))
        jobPlan(MergeApplier.applyBatch(spark, t, batch, "w", i + 1L))
      }
      assert(sliced(plan), s"batch $i: $plan")
    }
    assert(finalState(t) == oracle(all))
  }

  test("a CdcStream COW tail starts no Spark job per trigger") {
    val all = events(89)
    val src = tmpDir("bs-stream-src")
    all.grouped(300).zipWithIndex.foreach { case (chunk, i) =>
      writeFlatParquet(spark.createDataset(chunk).toDF(), src, f"chunk-$i%02d.parquet")
    }
    val t = new LakeTable(tmpDir("bs-stream-table"), numBuckets)
    val plan = jobPlanAnyThread {
      CdcStream.runAvailableNow(spark, src, t, tmpDir("bs-stream-ckpt"), maxFilesPerTrigger = 1)
    }
    assert(t.currentSnapshot().get.version == 4L)
    assert(plan.jobs == 0, plan)
    assert(finalState(t) == oracle(all))
  }

  test("no driver apply thread outlives its apply") {
    def applyThreads = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-apply")
    }
    val all = events(97)
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    BucketFileWriter.afterBucketFileOpen = _ => writers.add(Thread.currentThread().getName)
    try Seq(false, true).foreach { mor =>
      val t = new LakeTable(tmpDir(s"bs-threads-$mor"), numBuckets)
      all.grouped(120).zipWithIndex.foreach { case (chunk, i) =>
        val df = spark.createDataset(chunk).toDF()
        if (mor) MergeApplier.applyBatchMor(spark, t, df, "w", i.toLong)
        else MergeApplier.applyBatch(spark, t, df, "w", i.toLong)
        assert(applyThreads.isEmpty, s"mor=$mor batch $i: $applyThreads")
      }
      assert(finalState(t) == oracle(all), s"mor=$mor")
    } finally BucketFileWriter.afterBucketFileOpen = _ => ()
    // the buckets were written on the apply threads as well as the caller's
    assert(writers.contains("graft-apply") && writers.size > 1, writers)
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

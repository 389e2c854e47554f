package graft

import graft.changelog.Generator
import graft.model.{ChangeEvent, Model}
import graft.operators.MergeApplier
import graft.streaming.CdcStream
import graft.table.{BucketFileWriter, LakeTable}
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, monotonically_increasing_id, udf}
import org.apache.spark.sql.graftbridge.{DriverScan, ScanBridge}

import java.nio.file.{Files, Paths}

/** The plan of an apply's batch side (MergeApplier.batchSide). A batch whose
  * size estimate is within `spark.sql.autoBroadcastJoinThreshold` and whose
  * plan is deterministic and narrow is decoded on driver threads, one per
  * scan partition, and split there: the apply runs no job, or one job of
  * one stage with no shuffle when the touched buckets' bytes exceed the
  * threshold. Every other batch takes the `repartition(N, key)` exchange.
  * All leave the oracle's state.
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
          if (mor) MergeApplier.applyBatch(spark, t, df, "w", i.toLong, mode = "mor")
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
      // the bound admits the batch, but not the bytes of the buckets it
      // touches
      val bound = batch.queryExecution.analyzed.stats.sizeInBytes * numBuckets
      val touched = chunk.map(e => t.bucketFor(e.conv_id, e.turn_idx)).toSet
      val touchedBytes = t.resolveFiles(t.currentSnapshot().get).filter(f => touched(f._1))
        .values.flatten.map(_.bytes).sum
      assert(touchedBytes > bound, s"batch $i: $touchedBytes touched bytes within $bound")
      val plan = withConf(Threshold, Some(bound.toString)) {
        assert(ScanBridge.copyable(batch))
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
    val all = events(97)
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    BucketFileWriter.afterBucketFileOpen = _ => writers.add(Thread.currentThread().getName)
    try Seq(false, true).foreach { mor =>
      val t = new LakeTable(tmpDir(s"bs-threads-$mor"), numBuckets)
      all.grouped(120).zipWithIndex.foreach { case (chunk, i) =>
        val df = spark.createDataset(chunk).toDF()
        if (mor) MergeApplier.applyBatch(spark, t, df, "w", i.toLong, mode = "mor")
        else MergeApplier.applyBatch(spark, t, df, "w", i.toLong)
        assert(applyThreads.isEmpty, s"mor=$mor batch $i: $applyThreads")
      }
      assert(finalState(t) == oracle(all), s"mor=$mor")
    } finally BucketFileWriter.afterBucketFileOpen = _ => ()
    // the buckets were written on the apply threads as well as the caller's
    assert(writers.contains("graft-apply") && writers.size > 1, writers)
  }

  test("threshold -1, or batch bytes above it, keeps the exchange") {
    val all = events(73)
    val batch = spark.createDataset(all.take(400)).toDF()
    val bytes = batch.queryExecution.analyzed.stats.sizeInBytes
    // a bound one byte short of the batch's estimate admits no batch of 400
    val below = (bytes - 1).toString
    withConf(Threshold, Some(below))(assert(!ScanBridge.copyable(batch)))
    withConf(Threshold, Some(bytes.toString))(assert(ScanBridge.copyable(batch)))
    for (threshold <- Seq("-1", below); mor <- Seq(false, true)) {
      val (t, plans) = applyAll(s"bs-exchange-$mor", all, mor, Some(threshold))
      assert(plans.forall(exchanged), s"threshold=$threshold mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"threshold=$threshold mor=$mor")
    }
  }

  test("a batch within the threshold but not within it × buckets applies with no job") {
    val all = events(74)
    val bytes = spark.createDataset(all.take(400)).toDF().queryExecution.analyzed.stats.sizeInBytes
    // estimate ≤ threshold < estimate × buckets: the batch is admitted by
    // its own bytes, not by one copy per bucket
    val threshold = bytes
    assert(bytes <= threshold && threshold < bytes * numBuckets)
    Seq(false, true).foreach { mor =>
      val (t, plans) = applyAll(s"bs-boundary-$mor", all, mor, Some(threshold.toString))
      assert(plans.forall(_.jobs == 0), s"mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"mor=$mor")
    }
  }

  test("DriverScan.compute runs each partition under its own task context") {
    val rdd = spark.sparkContext.parallelize(0 until 40, 4)
    var seen: Seq[(Int, Int, Long, List[Int])] = Nil
    val plan = jobPlan {
      seen = DriverScan.compute(spark, rdd) { rows =>
        val tc = TaskContext.get()
        (tc.partitionId(), tc.numPartitions(), tc.taskAttemptId(), rows.toList)
      }
    }
    assert(plan.jobs == 0, plan)
    assert(seen.map(_._1) == (0 until 4), seen)
    assert(seen.forall(_._2 == 4), seen)
    assert(seen.map(_._3).distinct.size == 4, seen)
    assert(seen.map(_._4) == (0 until 40).grouped(10).map(_.toList).toSeq, seen)
    assert(TaskContext.get() == null)
  }

  /** `all` as `files` flat parquet files under a fresh directory. */
  private def parquetBatch(name: String, all: Seq[ChangeEvent], files: Int): String = {
    val dir = tmpDir(name)
    all.grouped(all.size / files).zipWithIndex.foreach { case (chunk, i) =>
      writeFlatParquet(spark.createDataset(chunk).toDF(), dir, f"part-$i%02d.parquet")
    }
    assert(parquetNames(dir).size == files)
    dir
  }

  private def applyThreads = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-apply")
  }

  test("a batch of several scan partitions is decoded on driver threads, split as in sequence") {
    val all = events(101, n = 8000, numConvs = 400)
    // the decode threads, seen through a pass-through UDF in the batch plan;
    // the UDF's encoders keep per-task state, so rows shared between threads
    // would also show in the slices' contents
    val traced = udf { (s: String) =>
      BatchSideSpec.decodeThreads.add(Thread.currentThread().getName); s }
    val batch = spark.read.parquet(parquetBatch("bs-parallel-batch", all, files = 4))
      .withColumn("text", traced(col("text")))
    val scan = ScanBridge.toInternalRdd(batch)
    assert(batch.inputFiles.length == 4 && scan.getNumPartitions >= 2, scan.getNumPartitions)
    val schema = batch.schema
    def cells(r: InternalRow): Seq[Any] = r.toSeq(schema)
    val t = new LakeTable(tmpDir("bs-parallel-table"), numBuckets)
    val (convI, turnI) = (schema.fieldIndex("conv_id"), schema.fieldIndex("turn_idx"))
    def bucketOf(r: InternalRow) = t.bucketFor(r.getUTF8String(convI).toString, r.getInt(turnI))
    // the sequential decode: partition by partition, row by row
    val sequential = scan.map(_.copy()).collect().toSeq
    val exchanged = withConf(Threshold, Some("-1"))(MergeApplier.batchSide(batch, numBuckets))
      .getOrElse(fail("threshold -1 split the batch on the driver"))
      .mapPartitionsWithIndex((i, rows) => rows.map(r => (i, r.copy()))).collect().toSeq
    BatchSideSpec.decodeThreads.clear()
    var split: Array[Array[InternalRow]] = null
    val plan = jobPlan {
      split = MergeApplier.batchSide(batch, numBuckets).swap
        .getOrElse(fail("the batch was not split on the driver"))
    }
    assert(plan.jobs == 0, plan)
    assert(BatchSideSpec.decodeThreads.size > 1, BatchSideSpec.decodeThreads)
    assert(split.length == numBuckets)
    def multiset(rows: Seq[InternalRow]) =
      rows.map(cells).groupBy(identity).view.mapValues(_.size).toMap
    split.zipWithIndex.foreach { case (slice, b) =>
      assert(slice.map(cells).toSeq == sequential.filter(bucketOf(_) == b).map(cells), s"slice $b")
      assert(multiset(slice.toSeq) == multiset(exchanged.filter(_._1 == b).map(_._2)), s"slice $b")
    }
    assert(split.map(_.length).sum == all.size)
    val apply = jobPlan(MergeApplier.applyBatch(spark, t, batch, "w", 0L))
    assert(apply.jobs == 0, apply)
    assert(finalState(t) == oracle(all))
  }

  test("a truncated batch file fails the driver decode and leaves nothing behind") {
    val all = events(103, n = 8000, numConvs = 400)
    val dir = parquetBatch("bs-truncated-batch", all, files = 4)
    val batch = spark.read.parquet(dir) // schema read while the files are whole
    assert(ScanBridge.toInternalRdd(batch).getNumPartitions >= 2)
    val t = new LakeTable(tmpDir("bs-truncated-table"), numBuckets)
    val victim = Paths.get(dir, "part-02.parquet")
    val whole = Files.readAllBytes(victim)
    Files.write(victim, whole.take(whole.length / 2))
    val memory = SparkEnv.get.memoryManager
    val used = memory.executionMemoryUsed
    var e: Exception = null
    val failed = jobPlan {
      e = intercept[Exception](MergeApplier.applyBatch(spark, t, batch, "w", 0L))
    }
    assert(failed.jobs == 0, failed)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("part-02")), e)
    assert(applyThreads.isEmpty, applyThreads)
    assert(t.currentSnapshot().isEmpty)
    assert(memory.executionMemoryUsed == used)
    Files.write(victim, whole)
    val r = MergeApplier.applyBatch(spark, t, batch, "w", 0L)
    assert(!r.skipped && r.version == 1L)
    assert(t.currentSnapshot().map(_.version) == Some(1L))
    assert(t.currentSnapshot().get.maxBatchId("w") == 0L)
    assert(finalState(t) == oracle(all))
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
    assert(ScanBridge.copyable(sample))
    assert(!ScanBridge.copyable(shape(spark.createDataset(all.take(400)).toDF())))
    Seq(false, true).foreach { mor =>
      val (t, plans) = applyAll(s"bs-nondet-$mor", all, mor, threshold = None, shape)
      assert(plans.forall(exchanged), s"mor=$mor: $plans")
      assert(finalState(t) == oracle(all), s"mor=$mor")
    }
  }
}

object BatchSideSpec {
  /** The threads a batch plan's rows were computed on. */
  val decodeThreads: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.{NarrowDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

/** Bucket-aligned parquet scan over `private[sql]` machinery — the
  * "bucket-aware target read" of the COW MERGE path.
  *
  * Spark's DataFrame parquet scan cannot express "partition i holds exactly
  * bucket i's files", so merging a shuffled batch with an already-bucketed
  * table forces a second exchange over the (much larger) table side. This
  * bridge builds an RDD[InternalRow] with ONE partition per table bucket,
  * each partition reading that bucket's data files through Spark's own
  * ParquetFileFormat reader function (schema clipping → additive evolution
  * nulls, predicate-free, row-returning). zipPartitions with the batch's
  * bucket split (its key shuffle or, for a small batch, the driver's split
  * [[splitOnDriver]] shipped one slice per partition; both use murmur3
  * partition ids that equal the table's bucket function by construction)
  * then gives a co-partitioned merge with ZERO table-side shuffle — the
  * DSv2 `reportPartitioning`/storage-partitioned-join outcome, without
  * standing up a full DSv2 connector. A small batch against small touched
  * buckets needs neither RDD: it is applied on the driver ([[DriverScan]]).
  */
object ScanBridge {
  private def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Serializable per-file reader (schema clipping handles files written
    * before additive columns existed). OPTION_RETURNING_BATCH=false keeps the
    * contract Iterator[InternalRow] even when the vectorized reader runs
    * underneath. The bucket-aligned scan reads through it, and so do the
    * DSv2 readers' [[org.apache.spark.sql.connector.read.PartitionReader]]s
    * outside an RDD.
    */
  def parquetReader(spark: SparkSession, schema: StructType)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      classic(spark),
      dataSchema = schema,
      partitionSchema = new StructType(),
      requiredSchema = schema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = classic(spark).sessionState.newHadoopConf())

  /** One bucket's rows: its (path, fileSize) files read in order through
    * `reader`, lazily — the per-bucket file loop of the bucket-aligned scan
    * and of both DSv2 readers.
    */
  def readFiles(reader: PartitionedFile => Iterator[InternalRow],
      files: Array[(String, Long)]): Iterator[InternalRow] =
    files.iterator.flatMap { case (path, size) =>
      reader(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, size))
    }

  /** One RDD partition per bucket; `filesByBucket(i)` = bucket i's
    * (path, fileSize) list. Partitions are lazy: a consumer that never pulls
    * from the iterator (an untouched bucket in the merge) opens no file.
    */
  def bucketFilesRdd(spark: SparkSession, schema: StructType,
      filesByBucket: Array[Array[(String, Long)]]): RDD[InternalRow] =
    new BucketFilesRDD(classic(spark).sparkContext,
      parquetReader(spark, schema), filesByBucket)

  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd

  /** Whether `df` is small enough to split on the driver
    * ([[splitOnDriver]]) instead of shuffling it: a deterministic plan whose
    * own size estimate is within [[DriverScan.withinBound]] — the lookups'
    * rule. Read off the analyzed plan, so a caller that goes on to
    * plan something else (the exchange over `df`) runs the optimizer once,
    * not twice.
    */
  def copyable(df: DataFrame): Boolean = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.analyzed
    plan.deterministic && DriverScan.withinBound(df.sparkSession, plan.stats.sizeInBytes)
  }

  /** `df`'s rows split by the hash of `keys` into `numBuckets` slices,
    * decoded on the driver with no job — or None when `df` must take the
    * `repartition(numBuckets, keys)` exchange: it is not [[copyable]], or
    * its plan is not narrow (an exchange, adaptive plan or subquery starts
    * jobs of its own; a shuffle in its lineage has no map output to read).
    * Each scan partition is split on a driver thread ([[DriverScan.compute]])
    * and slice i joins their bucket-i rows in partition order: row for row
    * the sequential split, and the exchange's partition i (both evaluate
    * `HashPartitioning(keys, numBuckets)`'s partition id).
    */
  def splitOnDriver(df: DataFrame, keys: Seq[String],
      numBuckets: Int): Option[Array[Array[InternalRow]]] = {
    if (!copyable(df)) return None
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    val plan = qe.executedPlan
    if (plan.exists(p => p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[Exchange] ||
        p.subqueries.nonEmpty)) return None
    val rdd = qe.toRdd
    def narrow(r: RDD[_]): Boolean = r.dependencies.forall {
      case d: NarrowDependency[_] => narrow(d.rdd)
      case _ => false
    }
    if (!narrow(rdd)) return None
    val keyAttrs = keys.map(k => plan.output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"key column $k not in ${plan.output.map(_.name)}")))
    val bucketId = HashPartitioning(keyAttrs, numBuckets).partitionIdExpression
    val parts = DriverScan.compute(df.sparkSession, rdd) { rows =>
      val bucketOf = UnsafeProjection.create(bucketId :: Nil, plan.output) // one per thread
      val slices = Array.fill(numBuckets)(ArrayBuffer.empty[InternalRow])
      rows.foreach(r => slices(bucketOf(r).getInt(0)) += r.copy())
      slices
    }
    Some(Array.tabulate(numBuckets)(b => parts.iterator.flatMap(_(b)).toArray))
  }

  def internalDf(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rdd, schema)

  /** Free the storage blocks behind a locally-checkpointed Dataset NOW.
    * `Dataset.unpersist()` only touches CacheManager entries, so
    * localCheckpoint blocks otherwise linger until the ContextCleaner
    * notices the RDD is unreferenced — unbounded executor storage for an
    * iterative algorithm that checkpoints every round. Only call on
    * generations nothing will read again: a truncated-lineage RDD cannot be
    * recomputed after its blocks are dropped.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
}

private class BucketPartition(override val index: Int,
    val files: Array[(String, Long)]) extends Partition

private class BucketFilesRDD(
    sc: SparkContext,
    reader: PartitionedFile => Iterator[InternalRow],
    filesByBucket: Array[Array[(String, Long)]])
  extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    filesByBucket.indices.map(i => new BucketPartition(i, filesByBucket(i))).toArray

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    ScanBridge.readFiles(reader, split.asInstanceOf[BucketPartition].files)
}

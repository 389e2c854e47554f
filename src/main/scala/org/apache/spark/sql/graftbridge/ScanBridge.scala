package org.apache.spark.sql.graftbridge

import org.apache.spark.{NarrowDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

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
  * bucket split (its key shuffle or, for a small batch, the in-task split
  * of [[bucketCopies]]; both use murmur3 partition ids that equal the
  * table's bucket function by construction) then gives a co-partitioned
  * merge with ZERO table-side shuffle — the DSv2 `reportPartitioning`/
  * storage-partitioned-join outcome, without standing up a full DSv2
  * connector.
  */
object ScanBridge {
  private def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Serializable per-file reader (schema clipping handles files written
    * before additive columns existed). OPTION_RETURNING_BATCH=false keeps the
    * contract Iterator[InternalRow] even when the vectorized reader runs
    * underneath.
    */
  private def parquetReaderFunc(spark: SparkSession, schema: StructType)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      classic(spark),
      dataSchema = schema,
      partitionSchema = new StructType(),
      requiredSchema = schema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = classic(spark).sessionState.newHadoopConf())

  /** The serializable per-file parquet reader function, exposed for
    * executor-side use outside an RDD — the DSv2 change-feed source's
    * [[org.apache.spark.sql.connector.read.PartitionReader]]s read their
    * bucket's files through exactly the reader the bucket-aligned merge
    * scan uses (schema clipping → additive-evolution nulls).
    */
  def parquetReader(spark: SparkSession, schema: StructType)
      : PartitionedFile => Iterator[InternalRow] =
    parquetReaderFunc(spark, schema)

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
      parquetReaderFunc(spark, schema), filesByBucket)

  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.toRdd

  /** Whether `df` is cheap enough to compute once per task of a `copies`-
    * task stage instead of shuffling it: a deterministic plan (every copy
    * sees the same rows) whose size estimate times `copies` is within
    * Spark's bound for a side copied to every task,
    * `spark.sql.autoBroadcastJoinThreshold` (-1 disables). Read off the
    * analyzed plan, so a caller that goes on to plan something else (the
    * exchange over `df`) runs the optimizer once, not twice.
    */
  def copyable(df: DataFrame, copies: Int): Boolean = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.analyzed
    plan.deterministic && plan.stats.sizeInBytes * copies <=
      classic(df.sparkSession).sessionState.conf.autoBroadcastJoinThreshold
  }

  /** `df` split by the hash of `keys` into `numBuckets` partitions WITHOUT
    * an exchange: partition i's task reads every partition of the plan and
    * keeps the rows whose `HashPartitioning(keys, numBuckets)` partition id
    * is i — the expression `repartition(numBuckets, keys)`'s exchange
    * evaluates, so partition i holds exactly what the exchange would put
    * there. One narrow stage; each task recomputes the whole plan, so this
    * is for small, deterministic plans only ([[copyable]]). A plan with no
    * partitions (an empty batch) gives an RDD with none either.
    */
  def bucketCopies(df: DataFrame, keys: Seq[String], numBuckets: Int): RDD[InternalRow] = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    val output = plan.executedPlan.output
    val keyAttrs = keys.map(k => output.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"key column $k not in ${output.map(_.name)}")))
    new BucketCopiesRDD(plan.toRdd,
      HashPartitioning(keyAttrs, numBuckets).partitionIdExpression, output, numBuckets)
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

/** Partition i of a [[BucketCopiesRDD]]: it carries the parent's partitions
  * itself (as CartesianRDD's partitions do), since `prev.partitions` is not
  * available on an executor.
  */
private class BucketCopyPartition(override val index: Int,
    val parents: Array[Partition]) extends Partition

private class BucketCopiesRDD(
    private var prev: RDD[InternalRow],
    partitionId: Expression,
    output: Seq[Attribute],
    numBuckets: Int)
  extends RDD[InternalRow](prev.context, Nil) {

  private val parentCount = prev.partitions.length

  override def getDependencies: Seq[org.apache.spark.Dependency[_]] =
    Seq(new NarrowDependency(prev) {
      override def getParents(partitionId: Int): Seq[Int] = 0 until parentCount
    })

  override protected def getPartitions: Array[Partition] =
    if (parentCount == 0) Array.empty
    else Array.tabulate(numBuckets)(i => new BucketCopyPartition(i, prev.partitions))

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val part = split.asInstanceOf[BucketCopyPartition]
    val bucketOf = UnsafeProjection.create(partitionId :: Nil, output)
    part.parents.iterator.flatMap(p => prev.iterator(p, context))
      .filter(r => bucketOf(r).getInt(0) == part.index)
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    prev = null
  }
}

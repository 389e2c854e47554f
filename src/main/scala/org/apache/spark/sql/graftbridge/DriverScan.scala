package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Driver-side reads for the key-addressed lookups and the applies within
  * the bound — no job, no broadcast. A point lookup opens one or a few small
  * files; a tail trigger's apply reads one small batch and a few bucket
  * files, a cold replay a changelog of a few MB and no bucket file at all;
  * launching a job for them (and broadcasting a Hadoop conf, which
  * `ParquetFileFormat.buildReaderWithPartitionValues` does on every call)
  * costs more than the read itself.
  *
  * Each file is read through parquet-mr's `ParquetFileReader` with Spark's
  * own `ParquetReadSupport`, i.e. the row-based reader Spark falls back to
  * off the vectorized path: the same schema clipping (a file written before
  * an additive column reads it as null), type conversions and datetime
  * rebasing as every other read of the table. The caller's parquet
  * predicate drops row groups whose statistics, dictionaries or bloom
  * filters exclude it; `keep` then decides each decoded row, and only kept
  * rows are copied (the reader reuses its buffers), so memory is
  * O(kept rows), not O(file). [[compute]] runs a plan's partitions with no
  * job too: on driver threads, each partition as its own driver-built task.
  */
object DriverScan {

  /** Called once per row group the driver read decodes, after row-group
    * filtering. A test seam: the lookup specs count row groups through it.
    */
  @volatile var afterRowGroup: () => Unit = () => ()

  private def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Whether `bytes` are small enough to read on the driver: within Spark's
    * own bound for collecting a side there, `spark.sql.autoBroadcastJoinThreshold`
    * (-1 disables). The one admission rule of the driver-side lookups and
    * applies.
    */
  def withinBound(spark: SparkSession, bytes: BigInt): Boolean = {
    val bound = classic(spark).sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && bytes <= bound
  }

  /** The session's Hadoop conf with the keys Spark's parquet scan sets for
    * `ParquetReadSupport` and its schema converter (mirrors
    * `ParquetFileFormat.setupHadoopConf`, which is private).
    */
  private def readConf(spark: SparkSession, schema: StructType): Configuration = {
    val sql = classic(spark).sessionState.conf
    val conf = classic(spark).sessionState.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    conf
  }

  /** Read `paths` (in order) as `schema`-shaped rows on the driver and
    * return copies of the rows `keep` admits. `filter` must hold for every
    * row `keep` admits; it only prunes row groups. No filter reads every row.
    */
  def read(spark: SparkSession, schema: StructType, paths: Seq[String],
      filter: Option[FilterPredicate] = None,
      keep: InternalRow => Boolean = _ => true): Seq[InternalRow] = {
    if (paths.isEmpty) return Seq.empty // a MOR or empty bucket: no conf to build
    val sql = classic(spark).sessionState.conf
    val conf = readConf(spark, schema)
    val toUnsafe = UnsafeProjection.create(schema)
    val out = ArrayBuffer.empty[InternalRow]
    paths.foreach { p =>
      val path = new Path(p)
      val options = HadoopReadOptions.builder(conf, path)
        .withRecordFilter(filter.fold(FilterCompat.NOOP)(FilterCompat.get)).build()
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), options)
      try {
        val meta = reader.getFooter.getFileMetaData
        val kv = meta.getKeyValueMetaData
        // the per-file choices ParquetFileFormat makes for its row reader
        val convertTz =
          if (sql.isParquetINT96TimestampConversion &&
            !Option(meta.getCreatedBy).exists(_.startsWith("parquet-mr")))
            Some(DateTimeUtils.getZoneId(sql.sessionLocalTimeZone)) else None
        val support = new ParquetReadSupport(convertTz, false,
          DataSourceUtils.datetimeRebaseSpec(kv.get(_),
            sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString),
          DataSourceUtils.int96RebaseSpec(kv.get(_),
            sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString))
        val ctx = support.init(new InitContext(conf,
          kv.asScala.map { case (k, v) => k -> java.util.Collections.singleton(v) }.asJava,
          meta.getSchema))
        reader.setRequestedSchema(ctx.getRequestedSchema)
        val materializer = support.prepareForRead(conf, kv, meta.getSchema, ctx)
        val columnIO = new ColumnIOFactory(meta.getCreatedBy)
          .getColumnIO(ctx.getRequestedSchema, meta.getSchema, true)
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          afterRowGroup()
          val records = columnIO.getRecordReader(pages, materializer, FilterCompat.NOOP)
          var i = 0L
          while (i < pages.getRowCount) {
            val r = records.read()
            if (r != null && keep(r)) out += toUnsafe(r).copy()
            i += 1
          }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  // driver task ids count down from below the block manager's reserved
  // writer ids (-1, -1024), so they never meet the scheduler's (0 up)
  private val taskIds = new java.util.concurrent.atomic.AtomicLong(-1024L)

  /** A fresh driver task id, also the attempt id of driver-written files. */
  def newTaskId(): Long = taskIds.decrementAndGet()

  /** `f` over each partition of the narrow `rdd` on driver threads
    * ([[graft.operators.Par.onDriverThreads]]), no job, in partition order.
    * Partition i runs under its own driver-built task context (partition id
    * i, a real `TaskMemoryManager`, a task id the block manager registered:
    * a file scan's broadcast read locks its block for the task; the session
    * SQL conf as local properties), completed and its locks and memory freed
    * also on a throw, and, as on an executor, on its own deserialized copy
    * of `rdd` after the first (a plan's expressions may keep per-task state,
    * e.g. a Scala UDF's encoders). `f` sees reused buffers; copy what it keeps.
    */
  def compute[T, O](spark: SparkSession, rdd: RDD[T])(f: Iterator[T] => O): Seq[O] = {
    val env = SparkEnv.get
    val props = new java.util.Properties()
    classic(spark).sessionState.conf.getAllConfs.foreach { case (k, v) => props.setProperty(k, v) }
    val bytes = if (rdd.partitions.length < 2) null
      else env.closureSerializer.newInstance().serialize(rdd)
    graft.operators.Par.onDriverThreads(spark, rdd.partitions.toIndexedSeq) { p =>
      val mine = if (p.index == 0) rdd else env.closureSerializer.newInstance()
        .deserialize[RDD[T]](bytes.duplicate(), Thread.currentThread().getContextClassLoader)
      val taskId = newTaskId()
      val memory = new TaskMemoryManager(env.memoryManager, taskId)
      val ctx = new TaskContextImpl(0, 0, p.index, taskId, 0, rdd.partitions.length, memory,
        props, env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
      env.blockManager.registerTask(taskId)
      TaskContext.setTaskContext(ctx)
      var failure: Option[Throwable] = None
      try f(mine.iterator(p, ctx))
      catch { case t: Throwable => failure = Some(t); ctx.markTaskFailed(t); throw t }
      finally try ctx.markTaskCompleted(failure) finally {
        TaskContext.unset()
        env.blockManager.releaseAllLocksForTask(taskId)
        memory.cleanUpAllAllocatedMemory()
      }
    }
  }

  /** `rows` as a DataFrame over a `LocalRelation`: collecting it starts no
    * job, and the optimizer folds filters and projections into it.
    */
  def localDf(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}

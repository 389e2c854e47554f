package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType, JobID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side parquet writing over `private[sql]` machinery — the write
  * twin of [[ScanBridge]].
  *
  * Tasks emit parquet files directly: the bucket-local merge and MOR append
  * write their bucket's file from the fold task, and DSv2
  * [[org.apache.spark.sql.connector.write.DataWriter]]s have no DataFrame
  * writer to hand rows to. Spark's own write support —
  * `ParquetFileFormat.prepareWrite` → [[OutputWriterFactory]] — is exactly
  * that per-file writer (same compression, schema conversion and
  * timestamp/decimal encodings as every other file the engine writes, so the
  * read path cannot tell who wrote a file), but it is `private[sql]`. This
  * bridge captures the prepared factory plus the job's Hadoop conf in a
  * serializable handle tasks can open writers from.
  */
object WriteBridge {

  /** Serializable per-task handle: `open(path, …)` returns an
    * [[OutputWriter]] writing `schema`-shaped [[org.apache.spark.sql.catalyst.InternalRow]]s
    * to `path`. One writer per output file; close() finalizes the footer.
    * `conf` supplies the Hadoop conf: for tasks it reads a broadcast, so the
    * conf is deserialized once per executor rather than once per task; for
    * driver writes it holds the conf itself, and the handle cannot ship.
    */
  final class TaskWriterFactory(
      factory: OutputWriterFactory,
      conf: () => Configuration,
      val schema: StructType) extends Serializable {
    def hadoopConf: Configuration = conf()
    def open(path: String, partitionId: Int, taskId: Long): OutputWriter = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), (taskId % Int.MaxValue).toInt)
      factory.newInstance(path, schema, new TaskAttemptContextImpl(hadoopConf, attempt))
    }
  }

  /** Prepare a parquet writer factory for `schema` under the session's SQL
    * conf (driver-side). The result ships to tasks, or with `onDriver` is
    * for driver threads only and broadcasts nothing. Files are created
    * through [[graft.table.ForkFreeLocalFileSystem]].
    */
  def parquetWriterFactory(spark: SparkSession, schema: StructType,
      onDriver: Boolean = false): TaskWriterFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(
      classic.sessionState.newHadoopConfWithOptions(graft.table.ForkFreeLocalFileSystem.conf))
    val factory = new ParquetFileFormat().prepareWrite(classic, job, Map.empty, schema)
    val conf = job.getConfiguration
    new TaskWriterFactory(factory, if (onDriver) () => conf else {
      val shipped = classic.sparkContext.broadcast(new SerializableConfiguration(conf))
      () => shipped.value.value
    }, schema)
  }

  /** Add one written file to the running task's output metrics — the
    * counters Spark's own file writer maintains, which a direct writer
    * bypasses (the setters are `private[spark]`). A driver write has no
    * task; its apply records the bytes and rows in its commit metrics.
    */
  def recordOutput(bytes: Long, rows: Long): Unit = Option(TaskContext.get()).foreach { tc =>
    val m = tc.taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + rows)
  }
}

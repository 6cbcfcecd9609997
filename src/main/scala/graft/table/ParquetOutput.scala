package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Spark's own parquet `OutputWriter`, opened outside a `FileFormatWriter`
  * job — the one place the table layer builds a parquet writer by hand.
  * `prepareWrite` runs on the driver and captures the session's codec,
  * datetime rebase modes and Hadoop conf (the same path `df.write.parquet`
  * takes), with INT64 `TIMESTAMP_MICROS` timestamps so footer stats stay
  * usable. The instance is serializable: the streaming sink ships it to
  * executors and opens one file per epoch task; [[SnapshotTable]]'s
  * driver-local stage opens one file on the driver. */
private[table] final class ParquetOutput private (
    factory: OutputWriterFactory, conf: SerializableConfiguration,
    schema: StructType) extends Serializable {

  /** Open `path` for writing under a task attempt of job `jobTag`/`jobNum`. */
  def open(path: String, jobTag: String, jobNum: Int, partitionId: Int,
      attempt: Int): OutputWriter = {
    val attemptId = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID(jobTag, jobNum),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      attempt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value, attemptId)
    factory.newInstance(path, schema, ctx)
  }

  /** Write `rows` as the single file `path`; a failed write deletes the
    * partial file before rethrowing. */
  def writeFile(path: String, rows: Iterator[InternalRow]): Unit = {
    val out = open(path, java.util.UUID.randomUUID.toString.take(8), 0, 0, 0)
    try {
      rows.foreach(out.write)
      out.close()
    } catch {
      case e: Throwable =>
        try out.close() catch { case _: Throwable => () }
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
        throw e
    }
  }
}

private[table] object ParquetOutput {
  def apply(spark: SparkSession, schema: StructType): ParquetOutput = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new ParquetOutput(factory, new SerializableConfiguration(job.getConfiguration), schema)
  }
}

package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** Exactly-once Structured Streaming sink into a snapshot table —
  * `df.writeStream.toTable("graft.db.t")`, no foreachBatch glue.
  *
  * Each epoch's writers stream rows through Spark's own parquet
  * `OutputWriterFactory` (same codec/conf path as batch writes) into a
  * per-epoch staging directory; the epoch commit renames the files into
  * `data/` and appends them as one snapshot that also sets the query's
  * last-batch marker ([[SnapshotTable.streamProgress]], keyed by the
  * checkpoint-stable `queryId`). A restarted query replaying epoch N
  * commits only when N is past [[SnapshotTable.committedBatch]]; later
  * commits carry the marker, so one head read recognizes a replay after
  * any crash and after snapshot expiry — rows land exactly once
  * (reference T1/S8 — the Firehose→Iceberg ingestion contract,
  * `aws-community-builders-presentation.md:214-251`). A query
  * checkpointed by a build without the marker has none: its first
  * replay after the upgrade is not recognized.
  */
class GraftStreamingWrite(location: String, schema: StructType,
    queryId: String, truncate: Boolean = false) extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active

  private def stagingDir(epochId: Long): java.nio.file.Path =
    java.nio.file.Paths.get(location, "_staging", s"stream-$queryId-$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val staging = java.nio.file.Paths.get(location, "_staging").toString
    new GraftStreamingWrite.EpochWriterFactory(
      ParquetOutput(spark, schema), staging, queryId)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val t = SnapshotTable.load(spark, location)
    val tag = s"stream-$queryId-epoch-$epochId"
    val dir = stagingDir(epochId)
    if (epochId > t.committedBatch(queryId)) {
      val declared = messages.toSeq
        .collect { case m: GraftStreamingWrite.StagedFiles => m.paths }
        .flatten.map(java.nio.file.Paths.get(_))
      val staged = declared.filter(java.nio.file.Files.exists(_))
      // Writers declared files that are gone (e.g. a staging sweep raced a
      // delayed first commit). Recording the epoch anyway would durably mark
      // it committed and skip the post-crash replay that could still recover
      // the batch — fail the commit instead so Spark retries and re-stages.
      if (staged.size != declared.size)
        throw new IllegalStateException(
          s"epoch $epochId of query $queryId: ${declared.size - staged.size} " +
            s"of ${declared.size} staged file(s) missing from ${dir}; " +
            "failing the commit so the batch is re-staged")
      // COMPLETE output mode (builder's truncate()): the epoch carries the
      // full recomputed result, so swap the whole file list — an empty
      // result is a legitimate complete-mode epoch and still commits. An
      // empty append epoch commits nothing, so there is nothing to replay.
      val marker = SnapshotTable.streamProgress(queryId, epochId)
      if (truncate) t.replaceStagedFiles(staged, schema, tag, marker)
      else if (staged.nonEmpty) t.appendStagedFiles(staged, schema, tag, marker)
    }
    graft.Tables.deleteRecursively(dir.toString)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    graft.Tables.deleteRecursively(stagingDir(epochId).toString)
}

object GraftStreamingWrite {

  case class StagedFiles(paths: Seq[String]) extends WriterCommitMessage

  /** Executor-side factory: one parquet file per (epoch, partition, task)
    * under the epoch's staging dir. */
  private class EpochWriterFactory(output: ParquetOutput,
      stagingRoot: String, queryId: String)
      extends StreamingDataWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] = {
      val dir = java.nio.file.Paths.get(stagingRoot, s"stream-$queryId-$epochId")
      java.nio.file.Files.createDirectories(dir)
      val path = dir.resolve(
        s"part-$partitionId-$taskId-${java.util.UUID.randomUUID}.parquet")
      val out = output.open(path.toString, queryId.take(8), epochId.toInt,
        partitionId, (taskId % Int.MaxValue).toInt)
      new DataWriter[InternalRow] {
        override def write(row: InternalRow): Unit = out.write(row)
        override def commit(): WriterCommitMessage = {
          out.close()
          StagedFiles(Seq(path.toString))
        }
        override def abort(): Unit = {
          out.close()
          java.nio.file.Files.deleteIfExists(path)
        }
        override def close(): Unit = ()
      }
    }
  }
}

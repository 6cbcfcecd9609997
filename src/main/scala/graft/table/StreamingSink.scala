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
  * `data/` and appends them as one snapshot tagged
  * `stream-<queryId>-epoch-<N>`. Idempotence: a restarted query replaying
  * epoch N skips the commit if either the tagged snapshot still exists or
  * the per-query high-water epoch in `_sink-state/` (durable across
  * snapshot expiry) already covers N — rows land exactly once
  * (reference T1/S8 — the Firehose→Iceberg ingestion contract,
  * `aws-community-builders-presentation.md:214-251`).
  */
class GraftStreamingWrite(location: String, schema: StructType,
    queryId: String, truncate: Boolean = false) extends StreamingWrite {

  private def spark: SparkSession = SparkSession.active

  private def stagingDir(epochId: Long): java.nio.file.Path =
    java.nio.file.Paths.get(location, "_staging", s"stream-$queryId-$epochId")

  /** Durable replay marker. The epoch tag in the snapshot log is enough
    * while the tagged snapshot exists, but expire_snapshots may collect it;
    * if another commit then lands before a query restart, the replayed
    * epoch would re-append its batch. The high-water epoch therefore also
    * persists in a per-query side file under `_sink-state/` that snapshot
    * expiry never touches. Epochs are committed serially per query, so a
    * plain REPLACE_EXISTING move of the monotone maximum is race-free. */
  private def stateFile: java.nio.file.Path =
    java.nio.file.Paths.get(location, "_sink-state", s"$queryId")

  private def lastCommittedEpoch: Long = {
    def read(): Long =
      if (java.nio.file.Files.exists(stateFile))
        new String(java.nio.file.Files.readAllBytes(stateFile), "UTF-8").trim.toLong
      else -1L
    // A corrupt side file (NumberFormatException) falls back to -1: the
    // snapshot tag alone then proves idempotence, which is safe because
    // corruption means the marker was never durably meaningful. A
    // PERSISTENTLY unreadable file is different: the marker may exist and
    // cover this epoch while the tagged snapshot has been expired, so
    // falling back to -1 could re-append a replayed batch (duplicate
    // rows). Retry once for transient IO, then FAIL the commit — Spark
    // retries the batch and exactly-once is preserved.
    try read() catch {
      case _: NumberFormatException => -1L
      case _: java.io.IOException =>
        try read() catch {
          case _: NumberFormatException => -1L
          case e: java.io.IOException =>
            throw new IllegalStateException(
              s"sink state $stateFile unreadable after retry; failing the " +
                "epoch commit rather than risking a duplicate append", e)
        }
    }
  }

  private def recordEpoch(epochId: Long): Unit = {
    java.nio.file.Files.createDirectories(stateFile.getParent)
    val tmp = stateFile.resolveSibling(s"$queryId.tmp")
    java.nio.file.Files.write(tmp, epochId.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, stateFile,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

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
    if (epochId > lastCommittedEpoch && !t.hasOperation(tag)) {
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
      // result is a legitimate complete-mode epoch and still commits
      if (truncate) t.replaceStagedFiles(staged, schema, tag)
      else if (staged.nonEmpty) t.appendStagedFiles(staged, schema, tag)
    }
    recordEpoch(math.max(epochId, lastCommittedEpoch))
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

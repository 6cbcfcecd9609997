package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}

/** Streaming READ from a graft table — the source-side complement of
  * [[GraftStreamingWrite]]: `spark.readStream.table("graft.db.t")` turns
  * the snapshot log into a micro-batch stream whose offsets are
  * (snapshot version, files consumed within that version's delta). Each
  * micro-batch reads exactly the files appended in the offset range —
  * the same appends-only delta contract as the batch `since_version`
  * incremental read ([[SnapshotTable.deltaFileList]], one shared
  * algorithm) — so a downstream pipeline (aggregate, dedup, another
  * graft table via the exactly-once sink) consumes each committed row
  * exactly once, checkpointed by offset. This is the Iceberg
  * streaming-read / Snowflake table-stream shape: CDC-as-appends over
  * the table's own commit history.
  *
  * Admission control: `option("maxFilesPerTrigger", n)` bounds every
  * micro-batch to `n` appended files, splitting mid-version when a
  * single append committed more — without it, a stream catching up on a
  * month of appends would plan the WHOLE backlog as one batch, the
  * classic unbounded-first-batch failure at 100 TB. AvailableNow drains
  * then process the backlog as a sequence of bounded batches.
  *
  * Scale: a micro-batch's input is the appended FILES, planned by the
  * stock parquet scan over the delta list — no snapshot diffing beyond
  * per-version manifest reads, no full-table rescans, and the delta is
  * manifest-stats pruned against the query's pushed filters before
  * planning. Non-append commits (overwrite/delete/update/merge) in the
  * offset range fail the stream with a clear error instead of silently
  * double-reading rewritten rows. Pure COMPACTION is different: it
  * preserves the row multiset, so `option("skip_rewrites", "compact")`
  * lets a 24/7 stream ride over routine maintenance (the Iceberg
  * `streaming-skip-overwrite-snapshots` shape) — the compact version
  * contributes an empty micro-batch and the stream continues with the
  * next append; the pre-compaction files it still needs remain on disk
  * until snapshot expiration. Without the option, compaction in the
  * unconsumed range fails the stream (the conservative default).
  * expire_snapshots that collects a checkpointed version fails the
  * restart with the recovery path in the message.
  *
  * `option("stream_from_version", v)` starts a NEW stream at version `v`
  * (exclusive) — `-1` (default) streams the table from the beginning,
  * `latestVersion` tails only future appends.
  */
private[table] class GraftMicroBatchStream(
    location: String,
    fromVersion: Int,
    maxFilesPerTrigger: Option[Int],
    skipOps: Set[String],
    catalystFilters: Seq[Expression],
    rebuild: Seq[SnapshotTable.DataFile] => Scan,
    // the snapshot version whose schema this stream's scan was planned
    // against — ALTERs at or below it are already baked into the scan
    // (rename-aware read groups, current types); ALTERs ABOVE it landed
    // while the stream was running and may invalidate the captured plan
    plannedVersion: Int = Int.MaxValue)
    // SupportsTriggerAvailableNow (not just SupportsAdmissionControl):
    // a source with only admission control gets wrapped in Spark's
    // AvailableNowDataStreamWrapper, whose latestOffset IGNORES the read
    // limit and returns the captured end — the whole backlog as one
    // batch. Implementing the trigger interface directly keeps per-batch
    // limits live during an AvailableNow drain, capped at the end
    // captured when the drain started (the FileStreamSource/Kafka
    // pattern).
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxFilesPerTrigger.forall(_ > 0),
    s"maxFilesPerTrigger must be positive, got ${maxFilesPerTrigger.getOrElse(0)}" +
      " (0 would silently read nothing forever)")

  private def spark: SparkSession = SparkSession.active
  // one handle for the stream's lifetime: versions() re-lists the
  // directory (new commits visible), while the instance's snapshot-parse
  // memo actually accumulates across triggers (snapshot documents are
  // immutable)
  private lazy val table: SnapshotTable = SnapshotTable.load(spark, location)

  /** Resolve the checkpointed/offset snapshot range, converting a missing
    * snapshot document (expire_snapshots collected a version the
    * checkpoint still references) into an actionable error instead of a
    * raw NoSuchFileException: the recovery path is a NEW checkpoint
    * starting at the current version. */
  private def resolvingOffsets[A](o: GraftStreamOffset)(body: => A): A =
    try body catch {
      case e: java.nio.file.NoSuchFileException =>
        throw new IllegalStateException(
          s"graft streaming source on $location cannot resolve offset v${o.v}: " +
            s"a snapshot in the unconsumed range is gone (${e.getMessage}) — " +
            "expire_snapshots collected history the checkpoint still needs. " +
            "Recover by restarting with a NEW checkpoint location and " +
            "option(\"stream_from_version\", <version to resume after>).", e)
    }

  override def initialOffset(): Offset =
    GraftStreamOffset(fromVersion, Int.MaxValue) // v fully consumed

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Unconsumed work after `o`, bounded by version `untilV`, one entry
    * per snapshot version: (version, files of its delta already consumed,
    * the delta — sorted for a stable sub-version order). LAZY on purpose:
    * a rate-limited trigger forces only the versions its file budget
    * reaches, so an N-version catch-up costs O(backlog consumed), not
    * O(N²) manifest parses — and versions beyond the bound are never
    * touched at all (a rewrite commit past the drain cap must not kill an
    * in-flight run that will never read it). Deltas are per single
    * version step so an offset can land mid-version. */
  private def remaining(t: SnapshotTable, o: GraftStreamOffset, untilV: Int)
      : LazyList[(Int, Int, Seq[SnapshotTable.DataFile])] = {
    val vs = t.versions.filter(_ <= untilV)
    val head =
      if (o.v >= 0 && o.files != Int.MaxValue && vs.contains(o.v)) {
        val prev = vs.filter(_ < o.v).lastOption.getOrElse(-1)
        val d = t.deltaFileList(prev, o.v, "streaming read", skipOps)
          .sortBy(_.path)
        if (o.files < d.size) LazyList((o.v, o.files, d)) else LazyList.empty
      } else LazyList.empty
    val after = vs.filter(_ > o.v)
    head #::: (o.v +: after).to(LazyList).zip(after).map { case (prev, v) =>
      assertBenignAlter(t, prev, v)
      (v, 0, t.deltaFileList(prev, v, "streaming read", skipOps).sortBy(_.path))
    }
  }

  /** An in-range ALTER is safe for a RUNNING stream only when it appends
    * columns (or touches nothing but properties): the stream's scan and
    * rebuild closure were planned against the schema at start, so files
    * appended AFTER a RENAME store the new physical column name and the
    * captured scan would silently read the renamed column as all-null in
    * every later micro-batch; a type widening would read the wrong
    * physical type. Fail the stream loudly instead — the recovery is a
    * restart, which replans against the altered schema (renameAware scan
    * + generation-dispatched reads make restarted streams correct). */
  private def assertBenignAlter(t: SnapshotTable, prev: Int, v: Int): Unit = {
    if (v <= plannedVersion) return // already baked into this stream's scan
    val s = t.snapshot(v)
    if (s.operation != "alter" || prev < 0) return
    val p = t.snapshot(prev)
    val (ps, ns) = (p.schema, s.schema)
    val renamed = s.renames.size > p.renames.size
    val columnAddingOnly = !renamed && ns.fields.length >= ps.fields.length &&
      ns.fields.take(ps.fields.length).zip(ps.fields).forall {
        case (n, o) => n.name == o.name && n.dataType == o.dataType
      }
    if (!columnAddingOnly)
      throw new IllegalStateException(
        s"graft streaming source on $location: ALTER at v$v in the unconsumed " +
          "range renames columns, changes types, or drops fields — a running " +
          "stream's scan was planned against the pre-ALTER schema and would " +
          "read altered columns wrongly (e.g. a renamed column as all-null). " +
          "Recover by replanning against the new schema: for a RENAME, run " +
          "CALL system.compact to normalize live files to the current names, " +
          "then restart the stream with option(\"skip_rewrites\", \"compact\") " +
          "so the checkpoint rides over that compaction. Only column-adding " +
          "ALTERs are safe mid-stream.")
  }

  // Version bound captured when an AvailableNow drain starts: commits
  // landing DURING the drain — appends for the next run, rewrites that
  // must not fail this one — are beyond the cap and never touched.
  // Version-granular is exact: snapshots are immutable, so nothing can
  // extend a version the cap already covers. No history walk, no delta
  // computation — a rewrite commit ANYWHERE in history (even before the
  // stream's checkpoint or stream_from_version) must not crash prepare.
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.latestVersion)

  private def versionBound(t: SnapshotTable): Int =
    availableNowCap.getOrElse(t.latestVersion)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val o = GraftStreamOffset.of(start)
    val t = table
    resolvingOffsets(o) {
    val work = remaining(t, o, versionBound(t))
    limit match {
      case m: ReadMaxFiles =>
        var budget = m.maxFiles()
        var end = o
        val it = work.iterator
        while (budget > 0 && it.hasNext) {
          val (v, consumed, delta) = it.next()
          val take = math.min(delta.size - consumed, budget)
          end = GraftStreamOffset(v, consumed + take)
          budget -= take
        }
        end
      case _: ReadAllAvailable =>
        work.lastOption.fold(o) { case (v, _, delta) =>
          GraftStreamOffset(v, delta.size)
        }
      case other => throw new UnsupportedOperationException(
        s"read limit not supported by graft streaming source: $other")
    }
    }
  }

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset.fromJson(json)

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftStreamOffset.of(start)
    val e = GraftStreamOffset.of(end)
    // bounded by the batch's own end version — versions beyond it (new
    // appends, rewrites) are invisible to this batch by construction
    val files = resolvingOffsets(s) {
      remaining(table, s, e.v).flatMap { case (v, consumed, delta) =>
        if (v < e.v) delta.drop(consumed)
        else delta.slice(consumed, e.files)
      }.toList
    }
    // same two-tier pruning as the batch scan: the pushed filters first
    // drop delta files whose manifest min/max cannot match
    val pruned = StatsPruning.prune(files,
      catalystFilters.flatMap(StatsPruning.fromCatalyst))
    if (pruned.isEmpty) Array.empty
    else rebuild(pruned).toBatch.planInputPartitions()
  }

  // Derived ONCE from a scan over an empty file list, so the factory's
  // file-list independence is structural rather than an ordering
  // assumption on "the scan the last planInputPartitions built": the
  // parquet reader factory carries only schema/filter/conf state and
  // reads whatever FilePartition it is handed — the rebuild closure
  // captures the SAME pushed filters and pruned columns every batch's
  // scan is built with, so this factory matches every batch's partitions.
  private lazy val readerFactory: PartitionReaderFactory =
    rebuild(Seq.empty).toBatch.createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** Offset = (snapshot version, files consumed within that version's
  * delta); `files = Int.MaxValue` marks the version fully consumed (also
  * how pre-admission-control checkpoints without a `files` field parse,
  * preserving their semantics). */
private[graft] case class GraftStreamOffset(v: Int, files: Int) extends Offset {
  override def json(): String = s"""{"version":$v,"files":$files}"""
}

private[graft] object GraftStreamOffset {
  private val Re =
    """\{\s*"version"\s*:\s*(-?\d+)\s*(?:,\s*"files"\s*:\s*(\d+)\s*)?\}""".r

  def fromJson(json: String): GraftStreamOffset = json.trim match {
    case Re(n, f) =>
      GraftStreamOffset(n.toInt, Option(f).map(_.toInt).getOrElse(Int.MaxValue))
    case other => throw new IllegalArgumentException(s"bad graft offset: $other")
  }

  def of(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => fromJson(other.json())
  }
}

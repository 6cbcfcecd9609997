package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A snapshot-log table: Iceberg-semantics capabilities (ACID append, time
  * travel, compaction, snapshot expiration, additive schema evolution,
  * identity partitioning) over plain Parquet files — the multi-engine-
  * readable layout the reference demos (its files stay scannable by DuckDB
  * et al., reference `aws-community-builders-presentation.md:996-1039`).
  *
  * Commit protocol (mirrors the reference's 4-step Iceberg commit,
  * `aws-community-builders-presentation.md:203-224`):
  *   1. write new data files into immutable locations under `data/`;
  *   2. build the next snapshot: every operation is ONE edit of the
  *      latest snapshot (`base => base.copy(...)`) handed to the one
  *      commit function, [[commit]], which alone stamps version,
  *      timestamp, operation and manifest layout, and writes the
  *      committed version into every entry that arrives unstamped (a new
  *      data file's `addedAt`, an equality delete's or a rename's
  *      `atVersion`);
  *   3. serialize the snapshot document;
  *   4. atomically publish it as the next version of the log — the commit
  *      point, isolated behind [[CommitPrimitive]] (POSIX hard link here;
  *      S3 conditional PUT / lock table at cloud scale — see its
  *      scaladoc). [[SnapshotLog]] is the one owner of the metadata
  *      layout: a version's document is named by its number zero-padded
  *      to five digits (`v00042.json`), with more digits past v99,999
  *      (`v100000.json`), and the number, never the name, orders the log.
  *      A concurrent writer that loses the race observes publish=false,
  *      re-reads the latest snapshot, and re-runs its edit on top of it
  *      (optimistic concurrency). An edit aborts with
  *      `ConcurrentModificationException` through one of three conflict
  *      rules, so a concurrent commit is never silently dropped
  *      (Iceberg-style validation):
  *       - base unmoved since the version the caller validated
  *         ([[requireUnmoved]]: copy-on-write rewrites, ALTER, SET
  *         PARTITION SPEC, merge-on-read MERGE, fast_forward);
  *       - scanned inputs still live ([[requireLive]]: compact,
  *         position delete, fold_eq_deletes);
  *       - delete ledgers unchanged ([[requireLedgers]]: compact,
  *         fold_eq_deletes).
  *      Appends, equality deletes, upsertMor and property changes always
  *      rebase. `CommitConflictSpec` pins the matrix.
  *
  * Readers pin a snapshot once at scan creation (snapshot isolation):
  * `read`/`readVersion`/`readAsOf` resolve the file list from one JSON
  * document and never see a half-committed state.
  *
  * Scale notes: the log holds file paths + stats only (O(files), like an
  * Iceberg manifest list); data moves through ordinary distributed
  * `df.write.parquet`, so a 1000-executor cluster writes in parallel and
  * only the O(KB) pointer swap is centralized. The one exception is a
  * driver-resident frame (its rows already sit in a `LocalRelation` on
  * the driver, e.g. a small ingest batch): it is written on the driver as
  * ONE file, with no Spark job, when the table is unpartitioned and
  * unsorted. Per-file row counts,
  * byte sizes, and min/max column stats are harvested from the parquet
  * FOOTERS of the just-written files (a distributed metadata-only pass —
  * never a second scan of the data), so every commit is single-pass over
  * its payload, like Iceberg's write-task stats collection.
  */
final class SnapshotTable private (val spark: SparkSession, val location: String,
    val ref: Option[String] = None) {

  // A branch instance shares the table's data/ directory (its commits
  // stage files exactly like main's) but keeps its own snapshot chain —
  // same document format, same commit primitive, so every ACID property
  // holds per-ref.
  private val log: SnapshotLog =
    ref.fold(SnapshotLog.main(location))(SnapshotLog.branch(location, _))
  private def dataDir: Path = Paths.get(location, "data")

  private def requireMain(op: String): Unit = require(ref.isEmpty,
    s"$op runs on the main table only, not on branch '${ref.getOrElse("")}'")

  // ------------------------------------------------------------ snapshots

  /** Committed snapshot versions, ascending (one directory listing). */
  def versions: Seq[Int] = log.versions

  def latestVersion: Int = log.headVersion

  /** The latest snapshot (one directory listing) — the version -1 empty
    * base before the first commit. An operation reads it once and works
    * from that copy; only [[commit]] re-reads it, once per attempt. */
  def head: SnapshotTable.Snapshot = log.head

  /** Snapshot `version`, parsed once per instance. */
  def snapshot(version: Int): SnapshotTable.Snapshot = log.read(version)

  /** Partition columns declared at table creation (identity transforms). */
  def partitionCols: Seq[String] = head.partitionCols

  // ---------------------------------------------------------------- reads

  /** Read the latest snapshot. */
  def read(): DataFrame = readVersion(latestVersion)

  /** Incremental read: rows appended AFTER `sinceVersion`, up to and
    * including `toVersion` (default: latest) — the Iceberg
    * incremental-scan shape, the "process only new data" primitive of a
    * training-data pipeline. Exact and metadata-only for append-commit
    * ranges (the new rows are precisely the files added by append-family
    * snapshots, so only those files are scanned — no diffing, no full
    * read). Ranges containing a rewrite commit (compact / overwrite /
    * delete / update / merge) are refused rather than answered wrong:
    * rewrites move surviving rows into new files, which would surface
    * old rows as "new". */
  def appendsSince(sinceVersion: Int, toVersion: Int = -1): DataFrame = {
    val to = if (toVersion < 0) latestVersion else toVersion
    require(to >= sinceVersion, s"empty version range v$sinceVersion..v$to")
    val added = deltaFileList(sinceVersion, to, "incremental read")
    readFileList(added, snapshot(to).schema, snapshot(to).renames)
  }

  /** THE appends-only delta algorithm, shared verbatim by every
    * incremental surface — [[appendsSince]], the `since_version` batch
    * reader option, and the streaming source's version offsets — so the
    * guard semantics can never drift between them: files added in
    * `(since, to]`, refused when the range contains a rewrite commit
    * (compact / overwrite / delete / update / merge — rewritten survivors
    * would surface as "new" rows). `since = -1` means everything up to
    * `to`.
    *
    * `skipOps` (streaming `option("skip_rewrites", "compact")`) lets the
    * caller declare specific rewrite operations ROW-MULTISET-PRESERVING:
    * a pure compaction rewrites surviving rows into fewer files without
    * adding or dropping any, so a consumer that already saw every row up
    * to the compaction's predecessor loses nothing by skipping it — the
    * Iceberg `streaming-skip-overwrite-snapshots` shape, required for
    * streaming reads to coexist with routine maintenance. Skipped
    * versions contribute an EMPTY delta; the walk then becomes per
    * version step (append deltas vs their immediate predecessor) instead
    * of the endpoint set-diff, because a compaction in the range makes
    * endpoint membership lie (compacted files look "added"). Overwrite /
    * delete / update / merge change the multiset and always fail. */
  private[table] def deltaFileList(since: Int, to: Int, what: String,
      skipOps: Set[String] = Set.empty): Seq[SnapshotTable.DataFile] = {
    val range = versions.filter(v => v > since && v <= to)
    // "alter" (ADD/RENAME/DROP COLUMN) commits the SAME file list with a
    // new schema — no rows move, so it is append-family for delta purposes.
    // "add_files" (in-place migration) only ADDS files; "clone" is the
    // clone's CREATE snapshot — both are append-family, or a migrated /
    // cloned table could never be streamed or incrementally read.
    def isAppend(s: SnapshotTable.Snapshot): Boolean =
      s.operation == "append" || s.operation == "create" ||
        s.operation == "alter" || s.operation == "set-partition-spec" ||
        s.operation == "add_files" ||
        s.operation == "clone" || s.operation.startsWith("stream-")
    val snaps = range.map(snapshot)
    val rewrites = snaps.filterNot(s => isAppend(s) || skipOps(s.operation))
    require(rewrites.isEmpty,
      s"$what v$since..v$to of $location crosses non-append commits: " +
        rewrites.map(s => s"v${s.version}=${s.operation}").mkString(", ") +
        " — read the full snapshot instead, or use changes(from, to) " +
        "for a row-level CDC delta that crosses delete/merge commits")
    if (snaps.forall(isAppend)) {
      // appends-only fast path: endpoint set-diff equals the union of the
      // per-step deltas and parses only the two endpoint snapshots
      val base =
        if (since < 0) Set.empty[String]
        else snapshot(since).files.map(_.path).toSet
      snapshot(to).files.filterNot(f => base(f.path))
    } else {
      // a skipped rewrite is in range: walk version by version so the
      // compacted files (present at `to`, absent at `since`) never
      // surface as "new" rows
      (since +: range).zip(range).flatMap { case (prev, v) =>
        val s = snapshot(v)
        if (!isAppend(s)) Seq.empty
        else {
          val base =
            if (prev < 0) Set.empty[String]
            else snapshot(prev).files.map(_.path).toSet
          s.files.filterNot(f => base(f.path))
        }
      }
    }
  }

  /** CDC changelog scan (the Iceberg changes-table / Snowflake
    * table-stream shape, the capability behind Snowflake dynamic tables'
    * TARGET_LAG refresh `aws-community-builders-presentation.md:751-766`):
    * every row added or removed in `(sinceVersion, toVersion]`, tagged
    * `_change_type` ('insert' | 'delete'), `_commit_version`, and
    * `_commit_timestamp`. Unlike [[appendsSince]], the range may cross
    * row-level commits — this is how an incremental consumer (dynamic
    * table, downstream sync) survives MERGE/DELETE instead of failing.
    *
    * Delta semantics per commit:
    *  - append family → the added files' rows as inserts (exact);
    *  - merge-on-read delete/merge → the NEW position-delete entries
    *    resolved back to their rows as deletes (plus the merge's new
    *    files as inserts) — exact row-level CDC, computed from the delete
    *    ledger without diffing any unchanged data;
    *  - rollback → file-diff both ways plus entries that VANISHED from
    *    the ledger resolved as re-inserts (exact multiset delta);
    *  - copy-on-write rewrites (overwrite / COW delete/update/merge) →
    *    FILE-granular: removed files' rows (as the pre-commit state saw
    *    them) as deletes, added files' rows as inserts. Rows carried
    *    through the rewrite appear as a delete+insert pair — Iceberg's
    *    changelog reports overwrite snapshots the same way; keyed
    *    consumers recompute those keys and stay exact;
    *  - compaction and metadata-only commits (alter) → no changes.
    *
    * Scale: each version contributes scans over its CHANGED files only
    * (manifest-listed, stats-scoped for position resolution); nothing
    * ever diffs unchanged data. */
  def changes(sinceVersion: Int, toVersion: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = if (toVersion < 0) latestVersion else toVersion
    require(to >= sinceVersion, s"empty version range v$sinceVersion..v$to")
    val toSnap = snapshot(to)
    val schema = toSnap.schema
    val declared = schema.fieldNames.toSeq
    def tagged(df: DataFrame, typ: String, s: SnapshotTable.Snapshot): DataFrame =
      df.select(declared.map(col): _*)
        .withColumn("_change_type", lit(typ))
        .withColumn("_commit_version", lit(s.version))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(s.timestampMs)))
    val parts: Seq[DataFrame] = commitDeltas(sinceVersion, to).flatMap { c =>
      import c._
      val out = Seq.newBuilder[DataFrame]
      if (added.nonEmpty)
        out += tagged(
          readWithDeletes(added, schema, toSnap.renames, s.deleteFiles,
            s.eqDeleteFiles),
          "insert", s)
      if (removed.nonEmpty)
        out += tagged(
          readWithDeletes(removed, schema, toSnap.renames, p.deleteFiles,
            p.eqDeleteFiles),
          "delete", s)
      // positions newly deleted on surviving files; EXCEPT against the
      // prior ledger both dedups in-commit duplicates and guards a
      // re-recorded entry from double-reporting
      if (newDels.nonEmpty)
        out ++= positionRows(survivors, schema, toSnap.renames, newDels,
          deleteEntries(newDels).except(deleteEntries(p.deleteFiles)))
          .map(tagged(_, "delete", s))
      // rollback resurrection: entries that vanished from the ledger
      if (droppedDels.nonEmpty)
        out ++= positionRows(survivors, schema, toSnap.renames, droppedDels,
          deleteEntries(droppedDels).except(deleteEntries(s.deleteFiles)))
          .map(tagged(_, "insert", s))
      // equality-delete deltas: a NEW entry kills the key-matching rows
      // that were live at the predecessor (evaluated under p's full
      // delete ledger so an already-dead row is never reported twice);
      // a DROPPED entry (rollback) resurrects the key-matching rows live
      // under s's ledger
      out ++= eqMatchRows(survivors, schema, toSnap.renames, p, newEqs)
        .map(tagged(_, "delete", s))
      out ++= eqMatchRows(survivors, schema, toSnap.renames, s, droppedEqs)
        .map(tagged(_, "insert", s))
      out.result()
    }
    if (parts.isEmpty) {
      val cdcSchema = org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdcSchema)
    } else parts.reduce(_.unionByName(_))
  }

  /** Delta-bounded SUPERSET of the key tuples whose rows changed in
    * `(sinceVersion, toVersion]` — the refresh-scoping primitive behind
    * [[graft.streaming.Streams.CdcDynamicTable]]. Contract: every key
    * with an added / removed / updated / deleted / resurrected row in the
    * range IS returned; a key with no net row change MAY be returned
    * (a key re-referenced by a duplicate delete entry, or carried through
    * a copy-on-write rewrite — [[changes]] reports the same carried rows
    * as delete+insert pairs). A group-recompute consumer is indifferent:
    * recomputing an untouched group from current state yields the
    * identical group row.
    *
    * Why not `changes(...).select(keys)`: the exact changelog applies the
    * full delete ledger to every insert part, `except`-guards re-recorded
    * entries, and runs TWO position resolutions per commit — all work
    * whose only purpose is exact change TYPING, which a refresh that
    * recomputes touched groups from current state never consults. This
    * path walks the same per-commit deltas ([[commitDeltas]]) but batches
    * the whole range into at most three delta-bounded scans: changed
    * files' keys, one position-entry resolution, and the equality-delete
    * key files read directly. */
  def changedKeyRows(sinceVersion: Int, toVersion: Int,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val to = if (toVersion < 0) latestVersion else toVersion
    require(to >= sinceVersion, s"empty version range v$sinceVersion..v$to")
    val toSnap = snapshot(to)
    val schema = toSnap.schema
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"changedKeyRows: unknown key column $k"))
    val deltas = commitDeltas(sinceVersion, to)
    // added and removed files: their rows' keys are (a superset of) the
    // insert/delete/rewrite-carried deltas of their commits
    val touched = deltas.flatMap(c => c.added ++ c.removed).distinctBy(_.path)
    val touchedPaths = touched.map(_.path).toSet
    // every other file seen in the range: only rows a ledger delta
    // references need resolving there
    val rest = deltas.flatMap(c => c.s.files ++ c.p.files).distinctBy(_.path)
      .filterNot(f => touchedPaths(f.path))
    // position-ledger delta, BOTH directions (new entries kill rows,
    // dropped entries resurrect them on rollback) — either way the
    // referenced rows' keys are touched; likewise for equality deletes
    val posDels = deltas.flatMap(c => c.newDels ++ c.droppedDels)
      .distinctBy(_.path)
    val eqDels = deltas.flatMap(c => c.newEqs ++ c.droppedEqs)
      .distinctBy(_.path)
    val parts = Seq.newBuilder[DataFrame]
    if (touched.nonEmpty)
      parts += readFileList(touched, schema, toSnap.renames)
    // one batched resolution for every ledger-delta entry in the range
    if (posDels.nonEmpty)
      parts ++= positionRows(rest, schema, toSnap.renames, posDels,
        deleteEntries(posDels))
    eqDels.foreach { d =>
      if (keyCols.forall(d.keyCols.contains))
        // the equality-delete file CARRIES the key tuples (typed at stage
        // time) — read them directly, no matching pass at all
        parts += eqDeleteRows(d)
      else if (rest.nonEmpty) {
        // delete keyed on other columns: match key-only against the
        // remainder (no addedAt scoping — superset is fine here)
        val base = readFileList(rest, schema, toSnap.renames)
        val (e, cond) = eqKeyJoin(base, d)
        parts += base.join(e, cond, "left_semi")
      }
    }
    parts.result().map(_.select(keyCols.map(col): _*))
      .reduceOption(_.unionByName(_)).getOrElse {
        val keySchema = org.apache.spark.sql.types.StructType(
          schema.fields.filter(f => keyCols.contains(f.name)))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], keySchema)
      }
  }

  /** THE per-commit delta walk behind [[changes]] and [[changedKeyRows]]:
    * each commit in `(sinceVersion, to]` against its predecessor (an
    * empty snapshot before v0). Compaction and metadata-only commits
    * (alter, set-partition-spec) move no rows and are skipped. One
    * directory listing serves the whole walk (a per-version re-list
    * would be O(range²) metadata IO and could see mid-call expirations). */
  private def commitDeltas(sinceVersion: Int,
      to: Int): Seq[SnapshotTable.CommitDelta] = {
    val vs = versions
    vs.zip(-1 +: vs).filter { case (v, _) => v > sinceVersion && v <= to }
      .flatMap { case (v, prevV) =>
        val s = snapshot(v)
        if (s.operation == "compact" || s.operation == "alter" ||
            s.operation == "set-partition-spec") None
        else {
          val p =
            if (prevV >= 0) snapshot(prevV)
            else SnapshotTable.Snapshot(-1, 0L, s.schemaJson, Seq.empty, "none")
          def minus[A](a: Seq[A], b: Seq[A])(path: A => String): Seq[A] = {
            val gone = b.map(path).toSet
            a.filterNot(x => gone(path(x)))
          }
          val pPaths = p.files.map(_.path).toSet
          Some(SnapshotTable.CommitDelta(s, p,
            added = minus(s.files, p.files)(_.path),
            removed = minus(p.files, s.files)(_.path),
            survivors = s.files.filter(f => pPaths(f.path)),
            newDels = minus(s.deleteFiles, p.deleteFiles)(_.path),
            droppedDels = minus(p.deleteFiles, s.deleteFiles)(_.path),
            newEqs = minus(s.eqDeleteFiles, p.eqDeleteFiles)(_.path),
            droppedEqs = minus(p.eqDeleteFiles, s.eqDeleteFiles)(_.path)))
        }
      }
  }

  /** Rows of `files` at the (file_path, pos) `entries`, with provenance
    * — the resolution semi-join behind MOR delete / rollback deltas.
    * Files outside every `scopes` delete file's recorded path range never
    * plan; None when no file is in scope. */
  private def positionRows(files: Seq[SnapshotTable.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      renames: Seq[SnapshotTable.Rename],
      scopes: Seq[SnapshotTable.DeleteFile],
      entries: => DataFrame): Option[DataFrame] = {
    val scoped = files.filter { f =>
      val p = readerPath(f.path)
      scopes.exists(d => d.minPath.isEmpty || d.maxPath.isEmpty ||
        (d.minPath <= p && p <= d.maxPath))
    }
    if (scoped.isEmpty) None
    else {
      val base = readFileList(scoped, schema, renames, withRowMeta = true)
      val e = entries
      Some(base.join(org.apache.spark.sql.functions.broadcast(e),
        base(SnapshotTable.MetaFile) === e("file_path") &&
          base(SnapshotTable.MetaPos) === e("pos"), "left_semi"))
    }
  }

  /** A manifest path in the reader's spelling: the string the parquet
    * reader reports as `_metadata.file_path`, which is also how every
    * position-delete entry and its `minPath`/`maxPath` bounds are
    * spelled. The manifest stores plain paths (`/wh/t 1/data/f.parquet`);
    * the reader qualifies them against their filesystem, canonicalizes
    * them as `new Path(path.toString)` (which drops an empty authority:
    * `file:/`, not `file:///`) and URI-encodes them with Hadoop's
    * `Path.toUri` (`file:/wh/t%201/data/f.parquet`). Every comparison of
    * a manifest path with a reader path goes through here — delete-file
    * scoping and the NDV-sketch key — so both sides are always spelled
    * alike, whatever the filesystem or the characters in the location. */
  private def readerPath(p: String): String = {
    import org.apache.hadoop.fs.Path
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new Path(fs.makeQualified(path).toString).toUri.toString
  }

  /** Time travel by version (`VERSION AS OF`). The snapshot's declared
    * schema is applied explicitly, so columns added by schema evolution /
    * ALTER TABLE read as null from files written before the column existed
    * (no mergeSchema footer sampling needed — the log owns the schema). */
  def readVersion(version: Int): DataFrame = {
    val snap = snapshot(version)
    readSnapshotFiles(snap, snap.files, snap.schema)
  }

  /** Read `files` under `snap`'s schema with `snap`'s delete ledger
    * applied (see [[readWithDeletes]]) — shared by every batch surface
    * (readVersion, the DSv2 scan for delete-bearing snapshots, carried-row
    * reads inside copy-on-write rewrites). */
  private[table] def readSnapshotFiles(snap: SnapshotTable.Snapshot,
      files: Seq[SnapshotTable.DataFile],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readWithDeletes(files, schema, snap.renames, snap.deleteFiles,
      snap.eqDeleteFiles)

  /** THE live-row reader: `files` under `schema` with a delete ledger
    * applied — every merge-on-read surface (reads, the position-delete and
    * merge probes, the changelog) runs through here. Tables without
    * delete files take the plain file-list read unchanged. `withRowMeta`
    * keeps each row's provenance ([[SnapshotTable.MetaFile]] /
    * [[SnapshotTable.MetaPos]]) for callers that record or resolve
    * positions.
    *
    * Equality-delete applicability is a PER-FILE fact (addedAt vs the
    * delete's commit version, [[SnapshotTable.eqDeleteApplies]]), so the
    * file list splits into strata of equal applicable-delete signature
    * and each stratum removes rows on KEYS ONLY — no per-row sequence
    * lookup in the plan, and no reader path ever compared with a manifest
    * path. Signatures are prefix-monotone in addedAt, so there are at
    * most (eqDels + 1) strata, and compaction folds the ledger anyway.
    *
    * A small ledger ([[SnapshotTable.literalLedger]]: manifest row counts
    * alone, no IO) — the steady state between compactions — is read on
    * the driver and applied as literal row predicates: NOT
    * (__gd_file, __gd_pos) ∈ entries, NOT key-tuple ∈ entries, each a
    * sorted set ([[SnapshotTable.notIn]]), the position test behind a hash
    * test on the position alone. Such a read builds no
    * broadcast relation and starts no job beyond the scan itself. A larger
    * ledger anti-joins ([[applyDeletes]], [[eqKeyJoin]]). */
  private[table] def readWithDeletes(files: Seq[SnapshotTable.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      renames: Seq[SnapshotTable.Rename],
      dels: Seq[SnapshotTable.DeleteFile],
      eqDels: Seq[SnapshotTable.EqDeleteFile] = Seq.empty,
      withRowMeta: Boolean = false): DataFrame =
    if (dels.isEmpty && eqDels.isEmpty)
      readFileList(files, schema, renames, withRowMeta)
    else {
      import org.apache.spark.sql.functions.col
      val keep = schema.fieldNames.toSeq ++
        (if (withRowMeta) Seq(SnapshotTable.MetaFile, SnapshotTable.MetaPos)
         else Seq.empty)
      val literal = SnapshotTable.literalLedger(dels, eqDels)
      // each ledger file is read once, whatever the number of strata
      lazy val posGone = {
        val entries = SnapshotTable.driverParquetRows(spark,
          dels.map(_.path), SnapshotTable.deleteEntrySchema)
        // a hash test on the position alone spares most rows the struct
        // test, which builds a struct per row and compares long paths
        !col(SnapshotTable.MetaPos).isInCollection(entries.map(_.getLong(1)).distinct) ||
          SnapshotTable.notIn(Seq(SnapshotTable.MetaFile, SnapshotTable.MetaPos),
            entries)
      }
      val eqGone = scala.collection.mutable.Map
        .empty[SnapshotTable.EqDeleteFile, org.apache.spark.sql.Column]
      def eqPredicate(d: SnapshotTable.EqDeleteFile) = eqGone.getOrElseUpdate(d,
        SnapshotTable.notIn(d.keyCols, eqDeleteEntries(d, schema)))
      val strata = files.groupBy(f =>
        eqDels.map(SnapshotTable.eqDeleteApplies(_, f)).toIndexedSeq)
      strata.toSeq.sortBy(_._1.mkString).map { case (sig, fs) =>
        val applicable = eqDels.zip(sig).collect { case (d, true) => d }
        val df = readFileList(fs, schema, renames,
          withRowMeta = withRowMeta || dels.nonEmpty)
        if (literal) {
          val gone = (if (dels.nonEmpty) Seq(posGone) else Seq.empty) ++
            applicable.map(eqPredicate)
          gone.reduceOption(_ && _).fold(df)(df.filter)
            .select(keep.map(col): _*)
        } else
          applicable.foldLeft(
            if (dels.nonEmpty) applyDeletes(df, dels, keep) else df) { (acc, d) =>
            val (e, cond) = eqKeyJoin(acc, d)
            acc.join(e, cond, "left_anti")
          }
      }.reduceOption(_.unionByName(_))
        // stats pruning can legitimately empty the file list (a point
        // predicate outside every file's min/max) even while the ledger
        // is live — return the empty relation, the same contract as
        // readFileList's empty branch
        .getOrElse(readFileList(Seq.empty, schema, renames, withRowMeta))
    }

  /** Anti-join `base` (which carries the [[SnapshotTable.MetaFile]] /
    * [[SnapshotTable.MetaPos]] provenance columns) against the position-
    * delete entries, keeping only `keep` columns — the path of a ledger
    * too large to apply as literals ([[readWithDeletes]]). The entries
    * are broadcast while the manifest says they fit (32 MB, no IO); a
    * larger backlog degrades to an ordinary shuffled anti-join rather
    * than OOMing the driver. */
  private def applyDeletes(base: DataFrame,
      dels: Seq[SnapshotTable.DeleteFile], keep: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val d0 = deleteEntries(dels)
    val d =
      if (dels.forall(_.bytes >= 0) && dels.map(_.bytes).sum <= (32L << 20))
        broadcast(d0)
      else d0
    base.join(d,
        base(SnapshotTable.MetaFile) === d("file_path") &&
          base(SnapshotTable.MetaPos) === d("pos"), "left_anti")
      .select(keep.map(col): _*)
  }

  /** Rows of `files` live under `ctx`'s delete ledger that match ANY of
    * the `matched` equality deletes, with provenance, each row once — the
    * changelog's resolution of equality-delete / rollback deltas back to
    * rows. Per delete, the files it applies to come from the manifest
    * (the same addedAt rule reads use); their live rows are semi-joined
    * on its keys, and the union is deduplicated on (file, pos). None when
    * no delete applies to any file. */
  private def eqMatchRows(files: Seq[SnapshotTable.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      renames: Seq[SnapshotTable.Rename],
      ctx: SnapshotTable.Snapshot,
      matched: Seq[SnapshotTable.EqDeleteFile]): Option[DataFrame] =
    matched.flatMap { d =>
      val applicable = files.filter(SnapshotTable.eqDeleteApplies(d, _))
      if (applicable.isEmpty) None
      else {
        val live = readWithDeletes(applicable, schema, renames,
          ctx.deleteFiles, ctx.eqDeleteFiles, withRowMeta = true)
        val (e, cond) = eqKeyJoin(live, d)
        Some(live.join(e, cond, "left_semi"))
      }
    }.reduceOption(_.unionAll(_))
      .map(_.dropDuplicates(SnapshotTable.MetaFile, SnapshotTable.MetaPos))

  /** One equality-delete file as a KEY-ONLY join side: (entries frame
    * with prefixed column names, null-safe key match) — for a ledger too
    * large to apply as literals ([[readWithDeletes]]) and for the
    * changelog's [[eqMatchRows]]. The entry payload is broadcast while
    * the manifest says it fits (32 MB, no IO). */
  private def eqKeyJoin(df: DataFrame, d: SnapshotTable.EqDeleteFile)
      : (DataFrame, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.broadcast
    val entryCols = d.keyCols.map(k => s"__gd_eq_$k")
    val e0 = eqDeleteRows(d).toDF(entryCols: _*)
    val e = if (d.bytes >= 0 && d.bytes <= (32L << 20)) broadcast(e0) else e0
    val keyMatch = d.keyCols.zip(entryCols)
      .map { case (k, ek) => df(k) <=> e(ek) }.reduce(_ && _)
    (e, keyMatch)
  }

  /** The key tuples of one equality-delete file, read under the schema
    * its footer declares: `spark.read.parquet` without a schema would run
    * a Spark job just to infer it. */
  private def eqDeleteRows(d: SnapshotTable.EqDeleteFile): DataFrame =
    spark.read.schema(SnapshotTable.footerSchema(spark, d.path)).parquet(d.path)

  /** The key tuples of one equality-delete file, read on the driver under
    * its footer schema and carried to `schema`'s declared key types (a
    * key column widened since the file was written reads wider). */
  private def eqDeleteEntries(d: SnapshotTable.EqDeleteFile,
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
    val footer = SnapshotTable.footerSchema(spark, d.path)
    val rows = SnapshotTable.driverParquetRows(spark, Seq(d.path), footer)
    val from = footer.map(_.dataType)
    val to = d.keyCols.map(k => schema(k).dataType)
    if (from == to) rows
    else {
      val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
      rows.map(r => new GenericInternalRow(from.indices.map { i =>
        Cast(Literal(r.get(i, from(i)), from(i)), to(i), tz).eval()
      }.toArray))
    }
  }

  /** The (file_path, pos) entries of the given delete files. */
  private[table] def deleteEntries(
      dels: Seq[SnapshotTable.DeleteFile]): DataFrame =
    if (dels.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        SnapshotTable.deleteEntrySchema)
    else spark.read.schema(SnapshotTable.deleteEntrySchema)
      .parquet(dels.map(_.path): _*)

  /** Read a file list under a declared schema, resolving RENAME COLUMN
    * history: files are grouped by their schema generation's local names
    * ([[SnapshotTable.fileLocalNames]]), each group is read with its own
    * file-local schema (same types/positions, generation's names) and
    * positionally re-labeled to the declared names, and the groups union.
    * One group (the common case — no renames, or every file rewritten
    * since) is a single plain read; a freshly renamed 100 TB table reads
    * as (number of schema generations) co-planned scans, which
    * compaction collapses back to one. */
  private[table] def readFileList(files: Seq[SnapshotTable.DataFile],
      schema: org.apache.spark.sql.types.StructType,
      renames: Seq[SnapshotTable.Rename],
      withRowMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    // `withRowMeta` appends each row's provenance — the reader's
    // `_metadata.file_path` / `_metadata.row_index` (V1 parquet source
    // metadata columns, split-safe) — as __gd_file/__gd_pos, the join key
    // the merge-on-read delete application and the CDC position
    // resolution run on.
    val metaNames = Seq(SnapshotTable.MetaFile, SnapshotTable.MetaPos)
    if (files.isEmpty) {
      val outSchema =
        if (!withRowMeta) schema
        else org.apache.spark.sql.types.StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField(SnapshotTable.MetaFile,
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField(SnapshotTable.MetaPos,
            org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    // partition source columns are stored in the data files themselves
    // (stage() keeps them alongside the __gp_ dir keys), so every read
    // is a plain file-list read with the declared schema. Grouping is
    // shared with the DSv2 scan path (RenameRead.groups) so generation
    // resolution can never diverge between the two.
    val declared = schema.fieldNames.toSeq
    RenameRead.groups(files, declared, renames).map { case (localNames, fs) =>
      val localSchema = org.apache.spark.sql.types.StructType(
        schema.fields.zip(localNames).map { case (f, n) => f.copy(name = n) })
      val r = spark.read.schema(localSchema).parquet(fs.map(_.path): _*)
      if (!withRowMeta) r.toDF(declared: _*)
      else r.select(localNames.map(col) ++ Seq(
          col("_metadata.file_path"), col("_metadata.row_index")): _*)
        .toDF(declared ++ metaNames: _*)
    }.reduce(_.unionAll(_))
  }

  /** Time travel by timestamp (`TIMESTAMP AS OF`): latest snapshot whose
    * commit time is <= the requested instant. */
  def readAsOf(timestampMs: Long): DataFrame = {
    val s = snapshotAsOf(timestampMs)
    require(s.isDefined, s"no snapshot at or before $timestampMs")
    readVersion(s.get.version)
  }

  /** The latest snapshot committed at or before `timestampMs`, if any —
    * the one as-of resolver behind [[readAsOf]] and the catalog's
    * `TIMESTAMP AS OF`. */
  def snapshotAsOf(timestampMs: Long): Option[SnapshotTable.Snapshot] =
    versions.map(snapshot).filter(_.timestampMs <= timestampMs)
      .maxByOption(_.version)

  /** The current snapshot's manifest as a DataFrame (file path, row count,
    * byte size) — the `table#files` metadata-table surface: storage
    * analysis without touching any data file (the reference's
    * `table_storage_metrics` rollup is metadata-only the same way,
    * `performance_comparison.sql:195-205`). */
  def filesDF(): DataFrame = {
    import spark.implicits._
    head.files
      .map(f => (f.path, f.rows, f.bytes)).toDF("file_path", "n_rows", "bytes")
  }

  /** Table history as a DataFrame (version, committed_at, operation,
    * n_files, n_rows) — the snapshot-metadata observability surface
    * (reference `aws-community-builders-presentation.md:229-258`). */
  def history(): DataFrame = {
    import spark.implicits._
    versions.map { v =>
      val s = snapshot(v)
      (s.version, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.files.size.toLong, s.files.map(_.rows).filter(_ >= 0).sum)
    }.toDF("version", "committed_at", "operation", "n_files", "n_rows")
  }

  // --------------------------------------------------------------- writes

  /** Commit an empty snapshot carrying only a schema (SQL CREATE TABLE). */
  private[table] def commitEmpty(schemaJson: String,
      partitionColsIfNew: Seq[String] = Seq.empty): Int =
    commit("create")(b => b.copy(schemaJson = schemaJson,
      partitionCols = if (b.version < 0) partitionColsIfNew else b.partitionCols))

  /** One atomic ALTER commit for a BATCH of schema changes: the final
    * schema plus every rename the batch performed (logged at the commit's
    * version, in batch order) plus any property set/unset land in a
    * single snapshot — a multi-change ALTER either fully applies or not
    * at all.
    *
    * `validatedAt` = the snapshot version the caller validated the batch
    * against. ALTER commits the FINAL schema, not a delta, so a retry on
    * top of a concurrently moved base would silently clobber the other
    * writer's schema change (ADD x racing ADD y keeps one) while its
    * guards (historicalNames, partition sources) ran against a stale
    * snapshot — abort with ConcurrentModificationException instead, like
    * replaceWhere, and let the caller re-validate. */
  private[table] def commitEvolution(schemaJson: String,
      renamed: Seq[(String, String)],
      propSet: Map[String, String] = Map.empty,
      propUnset: Set[String] = Set.empty,
      validatedAt: Int): Int = {
    // Branches are data-only: a schema change on a branch would either
    // diverge from what main's readers plan with or smuggle an ALTER into
    // main through fast_forward (whose file re-stamping assumes every
    // branch file stores the current column names) — refuse at the source.
    requireMain("ALTER (schema evolution)")
    commit("alter") { b =>
      requireUnmoved(b, validatedAt, "ALTER", " — re-validate the schema " +
        "change against the current snapshot and retry")
      b.copy(schemaJson = schemaJson,
        renames = b.renames ++ renamed.map { case (n, o) =>
          SnapshotTable.Rename(SnapshotTable.Unstamped, n, o) },
        properties = (b.properties ++ propSet) -- propUnset)
    }
  }

  /** Partition spec EVOLUTION (Iceberg's headline metadata-only layout
    * change, the "Partition Spec" slot of the reference's metadata diagram
    * `aws-community-builders-presentation.md:163`): commit a NEW partition
    * spec without touching a single data file. Files written before this
    * commit keep their old layout and their old per-file partition stats;
    * files written after use the new spec — the two generations coexist in
    * one table because every read decision here is PER-FILE:
    *
    *  - pruning is manifest-stats-driven ([[StatsPruning]]), and a file
    *    lacking a new-spec field's stat conservatively survives every
    *    derived partition predicate (never wrongly pruned);
    *  - data files are self-describing (partition sources are stored IN
    *    the files), so no read ever consults directory layout;
    *  - storage-partitioned-join eligibility is all-or-nothing
    *    ([[KeyGroupedScan.fileKeys]]): old-spec files simply disable SPJ
    *    until [[compact]] rewrites everything under the current spec —
    *    the same re-key contract flat rewrite files already have.
    *
    * This is THE 100 TB operation: repartitioning a 100 TB table by
    * rewrite is days of cluster time, while this commit is one metadata
    * CAS — new data lands in the better layout immediately and compaction
    * migrates old regions incrementally (or never, correctness is
    * unaffected).
    *
    * Validation mirrors the write path: every field's source column must
    * exist in the current schema with a transform-compatible type.
    * Concurrency: like ALTER, aborts with
    * `ConcurrentModificationException` if the table moved past the
    * snapshot the caller validated against (a racing writer may have
    * dropped the source column). An empty spec un-partitions the table
    * (future writes are flat). Returns the new version; a spec identical
    * to the current one is a no-op returning the current version.
    * `validatedAt` (like [[commitEvolution]]) pins the snapshot the caller
    * validated against; default = the head at entry. */
  def setPartitionSpec(spec: Seq[String], validatedAt: Int = -1): Int = {
    requireMain("ALTER (partition spec)")
    val base = if (validatedAt >= 0) snapshot(validatedAt) else head
    val fields = spec.map(PartitionFields.parse)
    val schema = base.schema
    def colType(c: String): org.apache.spark.sql.types.DataType =
      schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition spec field references unknown column: $c")).dataType
    fields.foreach {
      case PartitionFields.Identity(c) => colType(c)
      case PartitionFields.Bucket(n, c) =>
        require(n > 0, s"bucket count must be positive, got $n")
        require(PartitionFields.bucketableType(colType(c)),
          s"bucket source type not supported for $c: " +
            s"${colType(c).simpleString} (int/bigint/string)")
      case PartitionFields.Truncate(w, c) =>
        require(w > 0, s"truncate width must be positive, got $w")
        require(PartitionFields.bucketableType(colType(c)),
          s"truncate source type not supported for $c: " +
            s"${colType(c).simpleString} (int/bigint/string)")
      case PartitionFields.TimeUnit(u, c) =>
        require(PartitionFields.timeSourceType(colType(c)),
          s"$u source must be timestamp/date, got " +
            s"${colType(c).simpleString} for $c")
        require(u != "hours" || colType(c) != org.apache.spark.sql.types.DateType,
          "hours of a DATE is degenerate — use days(col) instead")
    }
    val names = fields.map(_.name)
    require(names.distinct == names,
      s"duplicate partition fields in spec: ${names.mkString(", ")}")
    if (names == base.partitionCols) return base.version
    commit("set-partition-spec") { b =>
      requireUnmoved(b, base.version, "SET PARTITION SPEC",
        " — re-validate against the current snapshot and retry")
      b.copy(partitionCols = names)
    }
  }

  /** ALTER TABLE … RENAME COLUMN — metadata-only (Iceberg T8 beyond ADD):
    * commits the renamed schema plus a [[SnapshotTable.Rename]] log entry;
    * no data file is touched. Files written before this commit physically
    * store the old parquet column name, and every read path resolves each
    * file's local names through the log ([[readFileList]]); files written
    * after — including a compaction's rewrites, which therefore NORMALIZE
    * the table back to single-generation reads — store the new name.
    *
    * Guards: partition source columns cannot be renamed (directory keys
    * and manifest stats key on them), and the new name must never have
    * been used by ANY schema generation — an old file could physically
    * store a column under it, which would silently bleed stale values
    * into the renamed column (Iceberg avoids this with field IDs; the
    * name-mapped design refuses instead). */
  def renameColumn(oldName: String, newName: String): Int = {
    val base = head
    val schema = base.schema
    checkRename(base, schema, historicalNames, oldName, newName)
    val renamed = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitEvolution(renamed.json, Seq(newName -> oldName),
      validatedAt = base.version)
  }

  /** The guards of renaming `oldName` in `schema` (the declared schema of
    * `base`, or an ALTER batch's schema so far), shared by
    * [[renameColumn]] and the catalog's ALTER TABLE … RENAME COLUMN. */
  private[table] def checkRename(base: SnapshotTable.Snapshot,
      schema: org.apache.spark.sql.types.StructType, historical: Set[String],
      oldName: String, newName: String): Unit = {
    require(schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists")
    val psrc = base.partitionCols.map(PartitionFields.parse).map(_.source)
    require(!psrc.contains(oldName),
      s"cannot rename partition source column $oldName")
    // live equality deletes name their key columns by the DECLARED name;
    // renaming one would silently divorce entries from the column
    require(!base.eqDeleteFiles.exists(_.keyCols.contains(oldName)),
      s"cannot rename $oldName: live equality-delete files key on it — " +
        "run CALL system.compact to fold them first")
    require(!historical.contains(newName),
      s"cannot rename to $newName: a previous schema generation used that " +
        "name and old data files may still store it — pick a fresh name")
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only: the column leaves the
    * declared schema; data files keep their bytes (time travel still sees
    * them) and explicit-schema reads simply never request the column.
    * Re-ADDing a dropped name is refused ([[historicalNames]] guard): old
    * files still store values under it, which would resurrect. */
  def dropColumn(name: String): Int = {
    val base = head
    val schema = base.schema
    checkDrop(base, schema, name)
    val narrowed = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    commitEvolution(narrowed.json, Seq.empty, validatedAt = base.version)
  }

  /** The guards of dropping `name` from `schema` (as in [[checkRename]]),
    * shared by [[dropColumn]] and the catalog's ALTER TABLE … DROP COLUMN. */
  private[table] def checkDrop(base: SnapshotTable.Snapshot,
      schema: org.apache.spark.sql.types.StructType, name: String): Unit = {
    require(schema.fieldNames.contains(name), s"no such column: $name")
    val psrc = base.partitionCols.map(PartitionFields.parse).map(_.source)
    require(!psrc.contains(name), s"cannot drop partition source column $name")
    require(!base.eqDeleteFiles.exists(_.keyCols.contains(name)),
      s"cannot drop $name: live equality-delete files key on it — " +
        "run CALL system.compact to fold them first")
    require(schema.fields.length > 1, "cannot drop the last column")
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — WIDENING only, metadata-only
    * (Iceberg's int→long / float→double promotion): the declared schema
    * gets the wider type; data files keep their narrower physical type,
    * which Spark's vectorized parquet reader upcasts natively when the
    * requested schema is wider (verified: int32 read as BIGINT, float as
    * DOUBLE). Narrowing or cross-family changes are refused — they would
    * corrupt or fail reads. Partition source columns are refused too:
    * bucket hashes ints and longs differently, so widening one would
    * silently divorce the write layout from the planner's function. */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    val base = head
    val schema = base.schema
    val field = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    val ok = (field.dataType, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"only widening promotions are supported " +
      s"(tinyint→smallint→int→bigint, float→double); " +
      s"got ${field.dataType.simpleString} → ${to.simpleString} for $name")
    val psrc = base.partitionCols.map(PartitionFields.parse).map(_.source)
    require(!psrc.contains(name),
      s"cannot change the type of partition source column $name")
    val widened = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    commitEvolution(widened.json, Seq.empty, validatedAt = base.version)
  }

  /** Every column name any schema generation has used (declared schemas
    * across all live snapshots, plus both sides of the rename log) — the
    * set a new or renamed column's name must avoid so a stale physical
    * column can never alias into it. */
  private[table] def historicalNames: Set[String] =
    versions.flatMap { v =>
      val s = snapshot(v)
      s.schema.fieldNames.toSeq ++
        s.renames.flatMap(r => Seq(r.newName, r.oldName))
    }.toSet

  /** ACID append: stage new files, then commit (optimistic retry; appends
    * always rebase cleanly over concurrent commits). The committed schema
    * is the union of the table schema and the appended frame's schema —
    * additive evolution, old rows read null for new columns.
    * `operation` tags the snapshot (streaming sinks use it to record the
    * micro-batch id for exactly-once replay detection). `setProps` merges
    * table properties INTO the same commit — callers that would otherwise
    * follow the append with setProperties (the CDC dynamic table's
    * watermark) save a whole snapshot commit per refresh. */
  def append(df: DataFrame, operation: String = "append",
      partitionColsIfNew: Seq[String] = Seq.empty,
      setProps: Map[String, String] = Map.empty): Int = {
    val base = head
    val staged = stage(df, base,
      if (base.version >= 0) base.partitionCols else partitionColsIfNew)
    commit(operation)(b => b.copy(files = b.files ++ staged,
      schemaJson = SnapshotTable.unionSchema(b, df.schema),
      partitionCols = if (b.version < 0) partitionColsIfNew else b.partitionCols,
      properties = b.properties ++ setProps))
  }

  /** Replace the whole table content atomically (INSERT OVERWRITE —
    * last-writer-wins by SQL semantics). */
  def overwrite(df: DataFrame): Int =
    commitReplacement(head, df, "overwrite")(_ => ())

  /** Copy-on-write overwrite validated against the snapshot the caller
    * derived `df` from: if another writer committed after `baseVersion`,
    * abort with `ConcurrentModificationException` instead of silently
    * dropping their commit. upsert/DELETE/tier-migration go through here.
    * The rewrite is staged to new files first and only then swapped in —
    * write-then-swap, no driver/executor-memory materialization: the old
    * files stay on disk (time travel) so the rewrite can stream from them
    * while writing the replacement. */
  def replace(baseVersion: Int, df: DataFrame,
      operation: String = "overwrite"): Int =
    commitReplacement(head, df, operation)(
      requireUnmoved(_, baseVersion, s"copy-on-write $operation"))

  /** Stage `df` as the table's whole new content (laid out as `base`
    * declares) and commit it once `check` passes on the base. The content
    * was derived from a deletes-applied read (or is new), so both delete
    * ledgers start clean. */
  private def commitReplacement(base: SnapshotTable.Snapshot, df: DataFrame,
      operation: String)(check: SnapshotTable.Snapshot => Unit): Int = {
    val staged = stage(df, base, base.partitionCols)
    commit(operation) { b =>
      check(b)
      b.copy(files = staged, schemaJson = df.schema.json,
        deleteFiles = Seq.empty, eqDeleteFiles = Seq.empty)
    }
  }

  /** Delete data files under `data/` that NO snapshot references —
    * leftovers of writers that crashed after staging files into place but
    * before their commit won (or lost a commit race). Only files older
    * than `graceMs` are touched: a concurrent writer's just-moved files
    * are unreferenced for the instant before its snapshot lands, and the
    * grace window keeps them safe. Returns the deleted paths. */
  def removeOrphans(graceMs: Long = 3600L * 1000): Seq[String] = {
    // Canonicalize BOTH sides of the membership test: a symlinked or
    // differently-spelled warehouse root (relative vs absolute, `..`
    // segments) would otherwise make every live file compare unequal to
    // its manifest entry and be deleted as an orphan.
    requireMain("remove_orphans")
    def canonical(p: Path): String =
      try p.toRealPath().toString
      catch { case _: java.io.IOException => p.toAbsolutePath.normalize.toString }
    // live = every file any snapshot references, on main OR on a branch
    // chain (branch commits stage into the same data/ directory)
    val referenced = (versions.map(snapshot) ++ branchSnapshots)
      .flatMap(SnapshotTable.referencedPaths)
      .map(f => canonical(Paths.get(f))).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    if (!Files.isDirectory(dataDir)) return Seq.empty
    val onDisk = scala.util.Using.resource(Files.walk(dataDir))(
      _.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toList)
    val (live, orphans0) = onDisk.partition(p => referenced(canonical(p)))
    // Last-ditch guard against normalization divergence this canonical()
    // didn't cover: snapshots reference files, yet not one of them matched
    // anything under data/. Deleting would destroy the whole table.
    if (referenced.nonEmpty && live.isEmpty && orphans0.nonEmpty)
      throw new IllegalStateException(
        s"remove_orphans aborted for $location: ${referenced.size} manifest entries matched " +
          s"ZERO of ${onDisk.size} files under $dataDir — path normalization divergence; " +
          "deleting would remove every live data file")
    val orphans = orphans0
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .map(_.toString)
    deleteDataFiles(orphans)
    orphans
  }

  /** Delete data or delete files together with their checksum sidecars,
    * then each one's own per-stage directory under `data/` once no parquet
    * file is left in it ([[SnapshotTable.StageDir]]). Shared `__gp_*`
    * partition directories are never removed: a concurrent writer may be
    * moving a file into one. */
  private def deleteDataFiles(paths: Iterable[String]): Unit = {
    val dirs = paths.map { s =>
      val p = Paths.get(s)
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
      p.getParent
    }.toSet
    dirs.filter(d => d != null && Files.isDirectory(d) &&
        SnapshotTable.StageDir.matches(d.getFileName.toString) &&
        scala.util.Using.resource(Files.list(d))(_.iterator().asScala
          .forall(!_.getFileName.toString.endsWith(".parquet"))))
      .foreach(d => graft.Tables.deleteRecursively(d.toString))
  }

  /** Roll the table back to `version` by committing a NEW snapshot that
    * reuses that version's files and schema — history is preserved (the
    * bad commits stay inspectable/travelable), readers atomically see the
    * old content. Metadata-only: no data is read or written. */
  def rollbackTo(version: Int): Int = {
    val target = snapshot(version)
    // the delete ledger is part of the content being restored: rolling
    // back past a MOR delete un-deletes those rows (restored files keep
    // their original addedAt, so restored equality deletes keep their
    // exact sequence scoping)
    commit("rollback")(_.copy(files = target.files,
      schemaJson = target.schemaJson, deleteFiles = target.deleteFiles,
      eqDeleteFiles = target.eqDeleteFiles))
  }

  /** In-place migration (Iceberg's `add_files` — the reference demo's
    * core premise: existing S3 parquet becomes a governed table without
    * rewriting a byte): adopt every parquet file under `sourceDir` into
    * the table as ONE append snapshot. Row counts, byte sizes, and
    * min/max pruning stats are harvested in the same distributed
    * footer-only pass normal appends use, so adopted files prune exactly
    * like written ones. Each file is hard-linked into `data/` — the table
    * owns its own directory entries, the source directory stays intact
    * (the [[cloneTo]] ownership model).
    *
    * Contract: the files physically store the table's current schema
    * (the migration premise — the table was DECLARED over this layout);
    * the first file's schema is checked against the declared columns and
    * a mismatch refuses loudly. Partitioned tables are refused — adopted
    * files carry no partition-directory keys, and silently unprunable
    * files would betray the partition spec's promise.
    *
    * `checkDuplicateFiles = false` (Iceberg `add_files` procedure-
    * signature parity) skips the duplicate-adoption guard for the rare
    * deliberate re-adoption — a source dir whose files were REWRITTEN in
    * place under the same paths (new inodes would pass the guard anyway;
    * the knob exists for filesystems/copies that preserve identity) or a
    * knowingly-duplicated backfill. Default stays the refusal: silent
    * row-doubling is the worst migration failure mode. On object stores
    * there are no inodes — the same guard becomes a path/etag comparison
    * against the current manifest (the manifest already records the
    * adopted object's path; an etag column is the S3 spelling of
    * `fileKey`), with identical semantics and the same opt-out.
    */
  def addFiles(sourceDir: String, checkDuplicateFiles: Boolean = true): Int = {
    val snap = head
    require(snap.partitionCols.isEmpty,
      s"add_files into $location: table is partitioned by " +
        s"${snap.partitionCols.mkString(",")} — adopted files carry no " +
        "partition keys; migrate into an unpartitioned table and compact " +
        "into the partition spec")
    val src = Paths.get(sourceDir)
    require(Files.isDirectory(src), s"add_files: $sourceDir is not a directory")
    // skip hidden/temp path segments ('_temporary/…', '.…'), exactly like
    // Spark's own directory reader — a crashed or speculative committer
    // leaves aborted task attempts there, and adopting them would
    // double-count rows the committed files already carry
    val walk = Files.walk(src)
    val found =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => src.relativize(p).iterator().asScala.exists { seg =>
          val s = seg.toString
          s.startsWith("_") || s.startsWith(".")
        })
        .toSeq.sortBy(_.toString)
      finally walk.close()
    require(found.nonEmpty, s"add_files: no parquet files under $sourceDir")
    // Duplicate-adoption guard (Iceberg `check_duplicate_files` parity):
    // re-running add_files over the same source dir would hard-link the
    // same inodes again and SILENTLY double every row count — the worst
    // failure mode for a migration tool. Adopted files ARE the source
    // inodes (hard links), so inode identity (`fileKey`) catches a re-run
    // regardless of the fresh destination names this run would mint. On
    // object stores the same guard is a path/etag comparison against the
    // current manifest. Checked against `snap` here (before any link) and
    // against `base` inside the commit retry (a racing add_files of the
    // same dir loses the CAS and re-validates).
    def inodeKey(p: Path): Option[AnyRef] =
      try Option(Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      catch { case _: java.io.IOException => None }
    val srcKeys: Map[AnyRef, Path] =
      found.flatMap(p => inodeKey(p).map(_ -> p)).toMap
    def alreadyAdopted(files: Seq[SnapshotTable.DataFile]): Seq[Path] =
      files.flatMap { f =>
        val q = Paths.get(f.path)
        if (Files.exists(q)) inodeKey(q).flatMap(srcKeys.get) else None
      }
    val dups = if (checkDuplicateFiles) alreadyAdopted(snap.files) else Seq.empty
    require(dups.isEmpty,
      s"add_files into $location: ${dups.size} of ${found.size} file(s) " +
        s"under $sourceDir are already adopted (same inode as a live data " +
        s"file), e.g. ${dups.head} — re-running would double-count rows. " +
        "Pass a directory of new files only, or set " +
        "check_duplicate_files => false for a deliberate re-adoption.")
    val declared = snap.schema
    // EVERY file's footer participates via mergeSchema: a mixed-schema
    // directory (a column's type changed mid-migration) fails HERE as a
    // merge conflict or a declared-column mismatch — before any link or
    // commit, not as a mid-scan conversion error after adoption
    val fileSchema = spark.read.option("mergeSchema", "true")
      .parquet(found.map(_.toString): _*).schema
    declared.fields.foreach { f =>
      val g = fileSchema.find(_.name == f.name)
      require(g.exists(_.dataType == f.dataType),
        s"add_files: declared column ${f.name}: ${f.dataType.simpleString} " +
          s"not stored under $sourceDir (files have ${
            g.map(_.dataType.simpleString).getOrElse("no such column")})")
    }
    val destDir = dataDir.resolve(
      s"added-${java.util.UUID.randomUUID.toString.take(8)}")
    Files.createDirectories(destDir)
    val linked = found.zipWithIndex.map { case (p, i) =>
      val d = destDir.resolve(s"$i-${p.getFileName}")
      Files.createLink(d, p)
      d.toString
    }
    // stamp the adopted files with the VALIDATED snapshot's version and
    // abort if the schema (or rename log) moved under us: the schema check
    // above ran against `snap`, and a concurrent RENAME would make the
    // adopted entries' schemaVersion claim post-rename names they don't
    // store (same hazard replaceWithStagedDir guards). Concurrent pure
    // APPENDS are benign and ride through the retry.
    val entries = manifestEntries(linked, declared, Seq.empty, snap)
    commit("add_files") { base =>
      if (base.schemaJson != snap.schemaJson || base.renames != snap.renames)
        throw new java.util.ConcurrentModificationException(
          s"add_files into $location: schema changed concurrently " +
            s"(validated v${snap.version}); re-run against the new schema")
      if (base.version != snap.version) {
        // a commit landed between validation and here — re-run the
        // duplicate guard against it so two racing add_files of the same
        // source dir can't both land (the loser's links stay as debris
        // inside data/, swept by remove_orphans like any orphan)
        val raced =
          if (checkDuplicateFiles)
            alreadyAdopted(base.files.filterNot(entries.contains))
          else Seq.empty
        if (raced.nonEmpty)
          throw new IllegalArgumentException(
            s"add_files into $location: a concurrent commit already " +
              s"adopted ${raced.size} file(s) from $sourceDir, e.g. " +
              s"${raced.head} — aborting to avoid double-counting rows")
      }
      base.copy(files = base.files ++ entries)
    }
  }

  /** Zero-copy clone (Snowflake `CREATE TABLE … CLONE`): a NEW independent
    * table at `target` whose v0 is this table's CURRENT snapshot — schema,
    * partition spec, table properties, and per-file stats carried — with
    * every live data file HARD-LINKED into the clone's own data dir: zero
    * bytes copied, O(files) metadata ops. POSIX link counts give shared-
    * file ownership for free — either table's compaction / expiration /
    * orphan GC unlinks only ITS directory entry, and the inode lives
    * until both sides have dropped it (on S3 the same shape is metadata
    * pointers plus catalog-tracked ownership; hard links are the POSIX
    * spelling). The clone's history and refs start fresh at v0 — time
    * travel does not cross the clone point, matching Snowflake.
    *
    * Refused while a RENAME COLUMN mapping is active on live files (their
    * `schemaVersion` markers are source-version-relative and would corrupt
    * under the clone's restarted version counter) — same remedy as the
    * streaming-read restriction: compact, then clone. After that guard the
    * carried files are all current-generation, so they re-base to
    * schemaVersion 0 with an empty rename log.
    */
  def cloneTo(target: String): SnapshotTable = {
    val snap = head
    require(!SnapshotTable.needsRenameMapping(snap),
      s"clone of $location: a RENAME COLUMN mapping is active on live " +
        "files — run CALL system.compact to rewrite them under the " +
        "current names, then clone")
    // position-delete entries name the SOURCE table's file paths; the
    // clone's hard links live at new paths, so a carried ledger would
    // silently stop matching and resurrect deleted rows — same remedy as
    // the rename guard: fold first, then clone
    require(snap.deleteFiles.isEmpty,
      s"clone of $location: live position-delete files reference the " +
        "source's data file paths — run CALL system.compact to fold " +
        "them, then clone")
    // equality-delete atVersions are source-version-relative and the
    // clone restarts its version counter — same remedy
    require(snap.eqDeleteFiles.isEmpty,
      s"clone of $location: live equality-delete files scope on the " +
        "source's version sequence — run CALL system.compact to fold " +
        "them, then clone")
    require(!SnapshotTable.exists(target), s"table already exists at $target")
    val t = new SnapshotTable(spark, target)
    val srcData = dataDir
    val destData = Paths.get(target, "data")
    // link under a UNIQUE subdir of data/ — NOTHING is ever deleted here,
    // so a clone racing another clone (or its own earlier crashed
    // attempt) can't destroy committed files: a crashed attempt's links
    // are unreferenced debris inside data/, which remove_orphans sweeps
    // like any orphan, and a retry uses a fresh subdir (no
    // FileAlreadyExists). Two racing clones both link; the snapshot CAS
    // decides whose manifest becomes v0 and the loser's commit lands
    // after it (both file sets exist — consistent either way).
    val linkRoot = destData.resolve(
      s"clone-${java.util.UUID.randomUUID.toString.take(8)}")
    val files = snap.files.map { f =>
      val p = Paths.get(f.path)
      val dest =
        if (p.startsWith(srcData)) linkRoot.resolve(srcData.relativize(p))
        else linkRoot.resolve(
          s"cloned-${java.util.UUID.randomUUID}").resolve(p.getFileName)
      Files.createDirectories(dest.getParent)
      Files.createLink(dest, p)
      // re-base the sequence position with the version counter: carried
      // files are the clone's v0 content, so future equality deletes
      // (atVersion >= 1) correctly apply to them
      f.copy(path = dest.toString, schemaVersion = 0, addedAt = 0)
    }
    t.commit("clone")(b => b.copy(files = files, schemaJson = snap.schemaJson,
      partitionCols = if (b.version < 0) snap.partitionCols else b.partitionCols,
      renames = Seq.empty, properties = snap.properties))
    t
  }

  // ----------------------------------------------------------------- refs

  /** Create branch `name` at `atVersion` (default: current head) — the
    * Iceberg branching model's mutable ref, and the isolation primitive
    * of write-audit-publish: writers commit to the branch's own snapshot
    * chain while every main reader keeps seeing the unchanged head, then
    * [[fastForward]] publishes the audited state as one atomic commit.
    *
    * The seed snapshot is a copy of main's `atVersion` document placed in
    * the branch chain (operation `branch`), so the branch is immediately
    * readable and its first commit rebases on the seed like any other.
    * Creation is atomic via the same publish-if-absent commit primitive —
    * two racing `create_branch` calls resolve to exactly one winner. */
  def createBranch(name: String, atVersion: Int = -1): Unit = {
    requireMain("create_branch")
    SnapshotTable.validateRefName(name, location)
    val v = if (atVersion < 0) latestVersion else atVersion
    require(v >= 0, s"cannot branch an empty table at $location")
    val seed = snapshot(v).copy(operation = "branch")
    require(SnapshotLog.tag(location, name).isEmpty,
      s"ref '$name' already exists at $location")
    require(SnapshotLog.branch(location, name).publish(
        v, SnapshotTable.renderSnapshot(seed)),
      s"ref '$name' already exists at $location")
  }

  /** Create immutable tag `name` pinning `atVersion` (default: head).
    * Expiration never collects a tagged version ([[expireSnapshots]]), so
    * a tag is a durable audit/repro point ("the corpus release we trained
    * on") that routine maintenance cannot erode. Tags cannot be re-pointed
    * — drop and recreate to move one. */
  def createTag(name: String, atVersion: Int = -1): Unit = {
    requireMain("create_tag")
    SnapshotTable.validateRefName(name, location)
    val v = if (atVersion < 0) latestVersion else atVersion
    require(versions.contains(v), s"no snapshot v$v at $location")
    require(!SnapshotLog.isBranch(location, name),
      s"ref '$name' already exists at $location")
    require(SnapshotLog.publishTag(location, name, v),
      s"ref '$name' already exists at $location (tags are immutable)")
  }

  /** Open branch `name` as a [[SnapshotTable]] whose commits land on the
    * branch chain. Data-path operations (append, overwrite, replaceWhere,
    * compact, rollback) all work; schema evolution is refused on branches
    * (see [[commitEvolution]]) so a published branch never smuggles in a
    * schema change that main's readers didn't plan for. */
  def branch(name: String): SnapshotTable = {
    requireMain("branch")
    val b = new SnapshotTable(spark, location, Some(name))
    require(b.latestVersion >= 0, s"no branch '$name' at $location")
    b
  }

  /** The version a tag pins. */
  def tagVersion(name: String): Int = {
    val v = SnapshotLog.tag(location, name)
    require(v.isDefined, s"no tag '$name' at $location")
    v.get
  }

  /** Every snapshot on every branch chain. */
  private def branchSnapshots: Seq[SnapshotTable.Snapshot] =
    SnapshotLog.refNames(location).collect { case (n, true) =>
      SnapshotLog.branch(location, n)
    }.flatMap(b => b.versions.map(b.read))

  /** All refs: name -> (type `branch`|`tag`, head / pinned version). */
  def refs: Map[String, (String, Int)] =
    SnapshotLog.refNames(location).map {
      case (n, true) => n -> ("branch", SnapshotLog.branch(location, n).headVersion)
      case (n, false) => n -> ("tag", tagVersion(n))
    }.toMap

  /** Resolve a ref name to the snapshot a read should pin: a branch's
    * head, or a tag's pinned version — `VERSION AS OF 'name'` routes
    * here when the version string is not numeric. */
  def resolveRef(name: String): SnapshotTable.Snapshot =
    if (SnapshotLog.isBranch(location, name)) {
      val b = SnapshotLog.branch(location, name).head
      require(b.version >= 0, s"no branch '$name' at $location")
      b
    } else snapshot(tagVersion(name))

  /** Drop a branch (chain and all) or a tag. Data files that only the
    * dropped ref referenced become orphans and are reclaimed by the next
    * [[removeOrphans]] sweep — never deleted here, so a concurrent reader
    * holding the ref's snapshot finishes its scan. */
  def dropRef(name: String): Unit = {
    requireMain("drop_ref")
    if (!SnapshotLog.dropRef(location, name))
      throw new IllegalArgumentException(s"no ref '$name' at $location")
  }

  /** Publish branch `name`: commit its head state onto main as one atomic
    * snapshot — the "publish" step of write-audit-publish. A pure pointer
    * advance like Iceberg's `fast_forward`: it requires that main has NOT
    * moved since the branch was created (the branch head is a strict
    * descendant of main's head), and aborts with
    * `ConcurrentModificationException` otherwise — a concurrent main
    * commit is never silently overwritten. Metadata-only: the branch's
    * data files are already in place under `data/`.
    *
    * Files written on the branch are re-stamped to the publish version:
    * their branch-chain `schemaVersion` stamps would otherwise collide
    * with main's numbering and mis-resolve against renames main commits
    * LATER. Safe because branches cannot alter schema — every branch file
    * physically stores the current column names. */
  def fastForward(name: String): Int = {
    requireMain("fast_forward")
    val chain = SnapshotLog.branch(location, name)
    val vs = chain.versions
    require(vs.nonEmpty, s"no branch '$name' at $location")
    val seedV = vs.head
    val head = chain.read(vs.last)
    val seed = chain.read(seedV)
    val seedPaths = seed.files.map(_.path).toSet
    // equality deletes ADDED on the branch scope on branch-chain version
    // numbers that collapse into ONE publish version here — a branch file
    // added after the branch's own equality delete would wrongly become
    // subject to it on main. Seed-inherited entries (atVersion <= seedV)
    // stay exact and publish through.
    require(head.eqDeleteFiles.map(_.path) == seed.eqDeleteFiles.map(_.path),
      s"fast_forward of '$name' into $location: equality deletes were " +
        "committed on the branch — their version scoping cannot survive " +
        "the single-version publish; compact the branch to fold them, " +
        "then fast_forward")
    commit("fast_forward") { b =>
      requireUnmoved(b, seedV, s"fast_forward of branch '$name'",
        " — fast_forward must be a pure pointer advance; recreate the " +
          "branch from the current head and replay")
      b.copy(
        // branch files logically land on main AT the publish version:
        // both the rename-resolution stamp and the equality-delete
        // sequence position re-base to it (the commit stamps addedAt)
        files = head.files.map(f =>
          if (seedPaths(f.path)) f
          else f.copy(schemaVersion = b.version + 1,
            addedAt = SnapshotTable.Unstamped)),
        schemaJson = head.schemaJson, properties = head.properties,
        // the branch's delete ledger is part of the state being published
        // (its entries name shared data/ paths, valid on main unchanged)
        deleteFiles = head.deleteFiles, eqDeleteFiles = head.eqDeleteFiles)
    }
  }

  /** Scoped overwrite (INSERT OVERWRITE … PARTITION / replaceWhere):
    * rows matching `cond` are replaced by `df`, everything else is
    * carried over — one conflict-checked commit. NULL-predicate rows are
    * carried (only rows where `cond` is TRUE are replaced), matching SQL
    * overwrite semantics.
    *
    * I/O is proportional to the files that might MATCH, not the table:
    * manifest min/max stats split the base file list, files that provably
    * hold no matching row keep their place in the new snapshot untouched
    * (never read, never rewritten), and only possibly-matching files are
    * rewritten (their non-matching rows carried into new files) — the
    * Iceberg overwrite-by-filter shape. A partition-scoped or
    * clustered-key replace on a 100 TB table therefore rewrites the
    * touched partitions only; an unprunable predicate degrades to the
    * full copy-on-write rewrite, never to a wrong answer. */
  def replaceWhere(cond: org.apache.spark.sql.Column, df: DataFrame,
      operation: String = "overwrite",
      setProps: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val base = head
    val baseV = base.version
    val schema = base.schema
    val rewrite = StatsPruning.prune(base.files, prunablePredicates(cond, base))
    val rewriteSet = rewrite.map(_.path).toSet
    val replacement =
      if (rewrite.isEmpty) df
      // readWithDeletes, not a bare schema'd read: rewrite files may
      // predate a RENAME COLUMN and store the old physical name — reading
      // them with the declared name would null the renamed column in
      // every carried row and stage the nulls permanently — and any
      // position-deleted row must not be resurrected into the rewrite.
      // Delete entries for the rewritten files go stale (their paths
      // leave the file list — never matched again); entries for surviving
      // files stay live via the default carry-forward.
      else readWithDeletes(rewrite, schema, base.renames, base.deleteFiles,
          base.eqDeleteFiles)
        .filter(not(coalesce(cond, lit(false))))
        .unionByName(df, allowMissingColumns = true)
    val staged = stage(replacement, base, base.partitionCols)
    commit(operation) { b =>
      requireUnmoved(b, baseV, s"scoped $operation")
      b.copy(files = b.files.filterNot(f => rewriteSet(f.path)) ++ staged,
        schemaJson = SnapshotTable.unionSchema(b, replacement.schema),
        properties = b.properties ++ setProps)
    }
  }

  /** Bin-pack compaction (reference T7: target 128–256 MB files,
    * `aws-community-builders-presentation.md:302-307`): rewrite the current
    * file set into ceil(totalBytes / targetBytes) files and swap the file
    * list in one atomic commit. Old files stay on disk for time travel
    * until [[expireSnapshots]] collects them. Concurrent appends are
    * rebased over (their files survive the swap); if any compaction input
    * file vanished (concurrent rewrite), the commit aborts instead of
    * resurrecting or dropping rows.
    *
    * On a partitioned table this is also the SPJ RE-KEY path: every
    * rewritten file goes through the identity-partitioned staging layout
    * (one partition value per file, min==max manifest stats), so a table
    * whose key-grouped planning was disabled by flat rewrite files — a
    * row-level UPDATE/MERGE or a streaming epoch writes files spanning
    * partition values, and [[KeyGroupedScan.fileKeys]] is deliberately
    * all-or-nothing — becomes storage-partitioned-join eligible again
    * after one compaction (KeyGroupedJoinSpec proves the round trip).
    */
  def compact(targetBytes: Long = 256L * 1024 * 1024,
      clusterBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Int = {
    import org.apache.spark.sql.functions.col
    val base = head
    val inputs = base.files.map(_.path).toSet
    // file sizes come from the manifest (recorded at stage time); fall back
    // to a driver stat only for legacy manifests without byte counts
    val totalBytes = base.files.map(f =>
      if (f.bytes >= 0) f.bytes else Files.size(Paths.get(f.path))).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val data = readVersion(base.version)
    // clusterBy = the reference's Z-order-style layout optimization
    // (aws-community-builders-presentation.md:302-307 as
    // repartitionByRange + in-file sort): files end up with disjoint
    // clustered-column ranges, so the manifest min/max stats prune most
    // files for point/range predicates on those columns.
    // zorderBy = true multi-dimensional clustering: Morton-interleave the
    // columns so file stats prune on each independently (see [[ZOrder]]);
    // the code-space bounds come from the manifest stats of the files
    // being compacted, so clustering adds no extra pass over the data.
    val arranged =
      if (zorderBy.nonEmpty)
        ZOrder.arrange(data, zorderBy,
          zorderBy.map(c => c -> manifestBounds(base, data, c)).toMap, nFiles)
      else if (clusterBy.nonEmpty)
        data.repartitionByRange(nFiles, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else data.repartition(nFiles)
    // an explicit zorder/cluster arrangement overrides the declared
    // write sort order for this rewrite; plain compaction honors it
    val staged = stage(arranged, base, base.partitionCols,
      applySortOrder = zorderBy.isEmpty && clusterBy.isEmpty)
    commit("compact") { b =>
      requireLive(b, inputs, "compaction")
      requireLedgers(b, base, "compaction")
      // the rewrite read applied every delete entry (readVersion), so the
      // compacted snapshot folds them in and starts a clean ledger — the
      // MOR maintenance contract: compaction restores the vectorized
      // plain-scan fast path
      b.copy(files = b.files.filterNot(f => inputs(f.path)) ++ staged,
        deleteFiles = Seq.empty, eqDeleteFiles = Seq.empty)
    }
  }

  /** Global [lo, hi] of column `c` in code-space units for Z-order
    * scaling: folded from the manifest's per-file min/max when every live
    * file carries numeric stats for `c` (zero data IO), else one
    * column-pruned min/max aggregation over `data`. Manifest "ts" stats
    * are micros and "date" stats epoch days; both are rescaled to match
    * [[ZOrder]]'s cast (epoch seconds / epoch days). */
  private def manifestBounds(base: SnapshotTable.Snapshot, data: DataFrame,
      c: String): (Double, Double) = {
    import org.apache.spark.sql.functions.{col, max, min}
    val ss = base.files.map(_.stats.get(c))
    val numeric = ss.flatten.filter(s => s.typ != "string")
    if (base.files.nonEmpty && numeric.size == base.files.size) {
      val scale = if (numeric.head.typ == "ts") 1e-6 else 1.0
      (numeric.map(_.min.toDouble).min * scale,
        numeric.map(_.max.toDouble).max * scale)
    } else {
      val n = ZOrder.numeric(data, c)
      val r = data.agg(min(n), max(n)).head()
      (Option(r.get(0)).fold(0.0)(_.asInstanceOf[Double]),
        Option(r.get(1)).fold(0.0)(_.asInstanceOf[Double]))
    }
  }

  /** MERGE-style upsert: rows in `updates` replace current rows with the
    * same key; unmatched update rows are inserted. One atomic snapshot
    * swap — readers see the pre-merge or post-merge table, never a mix.
    * Plan shape at scale: a single shuffle of both sides on the key
    * columns (left-anti + union), streamed from the old files into the
    * staged replacement files; the rewrite is proportional to the whole
    * table like any copy-on-write MERGE — partition-scoped merges can
    * first narrow with a predicate.
    */
  def upsert(updates: DataFrame, keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val base = head
    val merged = readSnapshotFiles(base, base.files, base.schema)
      .join(updates.select(keyCols.map(col): _*), keyCols, "left_anti")
      .unionByName(updates, allowMissingColumns = true)
    commitReplacement(base, merged, "overwrite")(
      requireUnmoved(_, base.version, "copy-on-write overwrite"))
  }

  /** The stats-prunable conjuncts of `cond`, resolved against the table
    * schema (an analyzed dummy filter — Column→Expression is
    * private[sql]) plus any bucket-transform predicates a key equality
    * pins; unsupported shapes yield nothing and every file conservatively
    * survives pruning. Shared by [[replaceWhere]] and [[positionDelete]]. */
  private def prunablePredicates(cond: org.apache.spark.sql.Column,
      base: SnapshotTable.Snapshot): Seq[org.apache.spark.sql.sources.Filter] = {
    val schema = base.schema
    val pred = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.flatMap(StatsPruning.fromCatalyst).toSeq
    // bucket transforms: a key-equality/IN predicate pins the touched
    // bucket ids, letting a hash-partitioned table prune by partition
    // value where min/max ranges cannot (hash destroys value order)
    pred ++ StatsPruning.bucketDerived(base.partitionCols, schema, pred)
  }

  /** True when the latest snapshot carries live position- or equality-
    * delete files — i.e. reads must take the merge-on-read path until
    * [[compact]] folds the ledger back into plain files. */
  def hasDeletes: Boolean = {
    val s = head
    s.deleteFiles.nonEmpty || s.eqDeleteFiles.nonEmpty
  }

  /** Merge-on-read DELETE (Iceberg v2 position-delete semantics, the
    * deck's ACID claims `aws-community-builders-presentation.md:111-121`
    * without the copy-on-write scale cliff): record the (file, position)
    * of every row where `cond` is TRUE into a position-delete file and
    * commit it — no data file is rewritten, so a 1-row GDPR delete on a
    * 256 MB file costs O(matching rows) IO, not 256 MB. Readers apply
    * the ledger ([[readWithDeletes]]: literal row predicates while it is
    * small, else an anti-join); [[compact]] folds it in.
    *
    * Candidate files are manifest-stats pruned by the predicate first
    * (only possibly-matching files are even scanned), and rows already
    * deleted (by position or by equality delete, [[readWithDeletes]]) are
    * excluded so an entry is never recorded twice —
    * readers would tolerate duplicates, but the changelog must see each
    * row deleted exactly once. Concurrent APPENDS rebase cleanly (their
    * rows are untouched by position entries); a concurrent rewrite of a
    * scanned file aborts — its positions would name rows that moved.
    *
    * Returns the number of rows deleted. */
  def positionDelete(cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val base = head
    val schema = base.schema
    val candidates = StatsPruning.prune(base.files, prunablePredicates(cond, base))
    if (candidates.isEmpty) return 0L
    val scanned = candidates.map(_.path).toSet
    val entries = readWithDeletes(candidates, schema, base.renames,
        base.deleteFiles, base.eqDeleteFiles, withRowMeta = true)
      .filter(coalesce(cond, lit(false))) // SQL DELETE: only TRUE deletes
      .select(col(SnapshotTable.MetaFile).as("file_path"),
        col(SnapshotTable.MetaPos).as("pos"))
    val staged = stageDeleteEntries(entries)
    if (staged.isEmpty) return 0L
    commit("delete") { b =>
      requireLive(b, scanned, "position delete",
        " — the recorded positions name rows that moved")
      b.copy(deleteFiles = b.deleteFiles ++ staged)
    }
    staged.map(_.rows).sum
  }

  /** Merge-on-read MERGE/upsert: rows matching an update key are
    * position-deleted and every update row lands in new files — one
    * atomic commit with the same row semantics as [[upsert]], at
    * O(updates + matching rows) IO instead of rewriting the table. The
    * key-match probe is one shuffle/broadcast join against the update
    * keys; the data write is a plain staged append. */
  def mergeMor(updates: DataFrame, keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val base = head
    val schema = base.schema
    val entries = readWithDeletes(base.files, schema, base.renames,
        base.deleteFiles, base.eqDeleteFiles, withRowMeta = true)
      .join(updates.select(keyCols.map(col): _*), keyCols, "left_semi")
      .select(col(SnapshotTable.MetaFile).as("file_path"),
        col(SnapshotTable.MetaPos).as("pos"))
    val stagedDeletes = stageDeleteEntries(entries)
    val stagedData = stage(updates, base, base.partitionCols)
    commit("merge") { b =>
      requireUnmoved(b, base.version, "merge-on-read MERGE")
      b.copy(files = b.files ++ stagedData,
        schemaJson = SnapshotTable.unionSchema(b, updates.schema),
        deleteFiles = b.deleteFiles ++ stagedDeletes)
    }
  }

  /** EQUALITY delete (Iceberg v2's second merge-on-read flavor): record
    * the DISTINCT key tuples of `keys` as an equality-delete file and
    * commit — the base table is NEVER read or scanned, so a delete-by-key
    * on a 100 TB table costs O(keys), not even the position-delete's
    * O(matching files) probe scan. Every merge-on-read surface (reads,
    * the position-delete and merge probes, the changelog) removes the
    * entries' keys, null-safe, from the stratum of files added before
    * this commit — as a literal row predicate while the ledger is small,
    * else an anti-join ([[readWithDeletes]]); [[compact]] folds it in.
    *
    * `keys`' columns name the key (any subset of the table's columns);
    * values are cast to the declared column types so write-side and
    * read-side comparisons can never disagree on type. Keys the driver
    * already holds are staged with no Spark job. Returns the
    * distinct key-tuple count (the rows deleted are unknowable without
    * the scan this operation exists to avoid — Iceberg's contract too). */
  def equalityDelete(keys: DataFrame): Long = {
    val base = head
    require(base.version >= 0,
      s"equalityDelete: table does not exist at $location")
    val staged = stageEqDeleteEntries(keys, base)
    if (staged.isEmpty) return 0L
    maybeAutoFold(
      commit("delete")(b => b.copy(eqDeleteFiles = b.eqDeleteFiles ++ staged)))
    staged.map(_.rows).sum
  }

  /** Merge-on-read upsert through equality deletes — the streaming-CDC
    * sink primitive (the Flink-Iceberg upsert shape): ONE commit carrying
    * an equality-delete file on `keyCols` plus the update rows as new
    * data files. Rows in files added before this commit lose to a
    * matching key; the commit's own files are added AT the commit version
    * and survive its delete by the sequence rule — so the whole upsert is
    * O(batch) IO with the base table untouched, the property that makes a
    * continuous 100 TB upsert stream feasible where [[mergeMor]]'s
    * key-probe scan or [[upsert]]'s full rewrite would not be. */
  def upsertMor(updates: DataFrame, keyCols: Seq[String],
      operation: String = "merge"): Int = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsertMor needs at least one key column")
    keyCols.foreach(k => require(updates.columns.exists(_.equalsIgnoreCase(k)),
      s"upsertMor key column $k missing from the update frame"))
    val base = head
    require(base.version >= 0,
      s"upsertMor: table does not exist at $location")
    val stagedDeletes = stageEqDeleteEntries(
      updates.select(keyCols.map(col): _*), base)
    val stagedData = stage(updates, base, base.partitionCols)
    val v = commit(operation)(b => b.copy(files = b.files ++ stagedData,
      schemaJson = SnapshotTable.unionSchema(b, updates.schema),
      eqDeleteFiles = b.eqDeleteFiles ++ stagedDeletes))
    maybeAutoFold(v)
    v
  }

  /** Auto-fold policy ([[SnapshotTable.MaxEqDeleteFiles]], the Snowflake
    * auto-clustering analog): when set, any upsert/delete commit that
    * leaves MORE than `bound` live equality-delete files (read from the
    * `committed` version) triggers [[foldEqDeletes]] — so a 24/7 upsert
    * stream's read-side strata stay ≤ bound+1 without an external
    * maintenance job. A failed fold (lost race) is logged and skipped,
    * never failing the commit that triggered it — the next epoch
    * re-triggers. */
  private def maybeAutoFold(committed: Int): Unit = {
    val s = snapshot(committed)
    s.properties.get(SnapshotTable.MaxEqDeleteFiles)
      .flatMap(_.trim.toIntOption).foreach { bound =>
        if (s.eqDeleteFiles.size > bound)
          try { foldEqDeletes(); () }
          catch { case e: Exception =>
            System.err.println(s"[graft] auto-fold of $location skipped: $e")
          }
      }
  }

  /** Fold the equality-delete ledger into the data: rewrite ONLY the
    * data files that may contain a deleted key — per delete file, the
    * key tuples' min/max (one tiny agg over the key-only delete file)
    * is checked against each applicable data file's manifest min/max
    * stats, a metadata-only prune — carry every other file unchanged,
    * and clear the eq ledger in one atomic commit. This is the bounded
    * version of what [[compact]] does for the whole table: a steady
    * upsert stream touches a bounded key range per epoch, so the fold's
    * rewrite set is O(files overlapping the deleted keys), not O(table).
    * A delete file with a NULL key component disables pruning for that
    * file (NULL entries match NULL-keyed rows, which file stats can't
    * see). Position deletes are retained — entries referencing rewritten
    * files become inert, and carried files keep theirs applied at read.
    * Returns the fold's commit version, or -1 if the ledger was empty. */
  def foldEqDeletes(): Int = {
    import org.apache.spark.sql.functions.{col, isnull, max => smax, min => smin}
    val base = head
    require(base.version >= 0,
      s"foldEqDeletes: table does not exist at $location")
    val eqDels = base.eqDeleteFiles
    if (eqDels.isEmpty) return -1
    val schema = base.schema
    // per delete file: [min,max] per key column + a null-key flag; the
    // delete files are small key-only parquet, so this is one tiny job
    // each, and the auto-fold bound keeps their count small by contract
    val ranges: Seq[(SnapshotTable.EqDeleteFile,
        Option[org.apache.spark.sql.sources.Filter])] =
      eqDels.map { d =>
        val e = eqDeleteRows(d)
        val aggs = d.keyCols.flatMap(k => Seq(
          smin(col(k)), smax(col(k)),
          smax(isnull(col(k)).cast("int"))))
        val row = e.agg(aggs.head, aggs.tail: _*).head()
        val perKey = d.keyCols.zipWithIndex.map { case (k, i) =>
          val (mn, mx, hasNull) = (row.get(3 * i), row.get(3 * i + 1),
            row.getInt(3 * i + 2) == 1)
          if (hasNull || mn == null) None // can't prune on this delete file
          else Some(org.apache.spark.sql.sources.And(
            org.apache.spark.sql.sources.GreaterThanOrEqual(k, mn),
            org.apache.spark.sql.sources.LessThanOrEqual(k, mx)))
        }
        // all key columns must be prunable for the file-range test to be
        // sound (a row matches a delete entry only if EVERY key matches)
        val filter =
          if (perKey.exists(_.isEmpty)) None
          else Some(perKey.flatten.reduce[org.apache.spark.sql.sources.Filter](
            org.apache.spark.sql.sources.And(_, _)))
        (d, filter)
      }
    val affected = base.files.filter { f =>
      ranges.exists { case (d, filter) =>
        SnapshotTable.eqDeleteApplies(d, f) &&
          filter.forall(fl => StatsPruning.prune(Seq(f), Seq(fl)).nonEmpty)
      }
    }
    val affectedSet = affected.map(_.path).toSet
    val staged =
      if (affected.isEmpty) Seq.empty
      else stage(readSnapshotFiles(base, affected, schema), base, base.partitionCols)
    commit("fold_eq_deletes") { b =>
      requireLive(b, affectedSet, "fold_eq_deletes")
      requireLedgers(b, base, "fold_eq_deletes")
      b.copy(files = b.files.filterNot(f => affectedSet(f.path)) ++ staged,
        eqDeleteFiles = Seq.empty)
    }
  }

  /** Write the DISTINCT key tuples of `keys` (cast to the declared column
    * types) as one sorted parquet equality-delete file under `data/`;
    * `atVersion` is left unstamped for the commit to stamp. Keys the driver
    * already holds ([[SnapshotTable.driverRows]]) are cast, de-duplicated
    * and sorted (Spark's natural ordering) right here and written through
    * [[ParquetOutput]] — no Spark job; other frames run the job. */
  private def stageEqDeleteEntries(keys: DataFrame,
      base: SnapshotTable.Snapshot): Seq[SnapshotTable.EqDeleteFile] = {
    import org.apache.spark.sql.functions.col
    val schema = base.schema
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val typed = keyCols.map { k =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key column $k is not a table column"))
      // Refuse uncastable key values instead of letting a non-ANSI cast
      // silently yield NULL — a NULL entry would null-safe-match (and
      // delete) every NULL-keyed row in the table, turning a caller typo
      // into data loss. try_cast makes the guard ANSI-mode-independent;
      // raise_error fires during the staging write below.
      import org.apache.spark.sql.functions.{concat, lit, raise_error, when}
      val cast = col(k).try_cast(f.dataType)
      when(col(k).isNotNull && cast.isNull,
          raise_error(concat(
            lit(s"equality-delete key $k: value '"), col(k).cast("string"),
            lit(s"' is not castable to ${f.dataType.sql}"))).cast(f.dataType))
        .otherwise(cast).as(f.name)
    }
    val typedKeys = keys.select(typed: _*)
    val uuid = java.util.UUID.randomUUID.toString
    val dir = dataDir.resolve(s"eqdeletes-$uuid")
    SnapshotTable.driverRows(typedKeys) match {
      case Some(rows) =>
        // evaluating the projection on the driver ran the cast guard
        val ord = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(typedKeys.schema.map(_.dataType))
        val sorted = rows.sortWith(ord.lt)
        val distinct = sorted.indices
          .filter(i => i == 0 || ord.compare(sorted(i - 1), sorted(i)) != 0)
          .map(sorted)
        Files.createDirectories(dir)
        ParquetOutput(spark, typedKeys.schema).writeFile(
          dir.resolve(s"part-00000-$uuid.parquet").toString, distinct.iterator)
      case None =>
        typedKeys.distinct()
          .coalesce(1).sortWithinPartitions(keyCols.map(col): _*)
          .write.parquet(dir.toString)
    }
    val paths = parquetFilesIn(dir).map(_.toString)
    if (paths.isEmpty) { graft.Tables.deleteRecursively(dir.toString); return Seq.empty }
    val footer = footerStatsOf(paths, Seq.empty)
    paths.flatMap { p =>
      val (rows, bytes, _) = footer(p)
      if (rows == 0) { Files.deleteIfExists(Paths.get(p)); None }
      else Some(SnapshotTable.EqDeleteFile(p, rows, bytes,
        keyCols.map(k => schema.fields.find(_.name.equalsIgnoreCase(k)).get.name)))
    }
  }

  /** Write position-delete `entries` (file_path, pos) as globally sorted
    * parquet under `data/` and return their manifest records — entry
    * counts, bytes, and the file_path range each file covers (footer
    * stats, metadata-only), the scoping key that lets readers and the
    * changelog skip delete files that cannot reference a given data
    * file. */
  private def stageDeleteEntries(
      entries: DataFrame): Seq[SnapshotTable.DeleteFile] = {
    val dir = dataDir.resolve(s"deletes-${java.util.UUID.randomUUID}")
    // per-TASK sort, not a global sort: each write task emits its own
    // sorted delete file (the Iceberg per-task delete-file shape). A
    // global sort would add a range-sample job plus a full exchange per
    // delete commit purely to make the per-file path ranges disjoint —
    // the ranges are a read-side SCOPING optimization, not a correctness
    // requirement, and overlapping ranges only cost a skipped prune.
    entries.sortWithinPartitions("file_path", "pos").write.parquet(dir.toString)
    val paths = parquetFilesIn(dir).map(_.toString)
    if (paths.isEmpty) { graft.Tables.deleteRecursively(dir.toString); return Seq.empty }
    val footer = footerStatsOf(paths, Seq("file_path" -> "string"))
    paths.flatMap { p =>
      val (rows, bytes, stats) = footer(p)
      // a file with zero entries contributes nothing — drop it
      if (rows == 0) { Files.deleteIfExists(Paths.get(p)); None }
      else Some(SnapshotTable.DeleteFile(p, rows, bytes,
        stats.get("file_path").map(_.min).getOrElse(""),
        stats.get("file_path").map(_.max).getOrElse("")))
    }
  }

  /** Current table properties (carried forward by every commit). */
  def properties: Map[String, String] = head.properties

  /** ALTER TABLE … SET/UNSET TBLPROPERTIES: one metadata-only commit
    * merging `set` and dropping `unset`. Retention floors
    * ([[SnapshotTable.MinSnapshotsToKeep]] /
    * [[SnapshotTable.MaxSnapshotAgeMs]]) are validated here so a typo'd
    * policy fails at ALTER time, not silently at the next expiration. */
  def setProperties(set: Map[String, String],
      unset: Set[String] = Set.empty): Int = {
    requireMain("ALTER TBLPROPERTIES")
    SnapshotTable.checkProperties(set, head.schema)
    commit("alter")(b => b.copy(properties = (b.properties ++ set) -- unset))
  }

  /** Expire all but the last `keepLast` snapshots and delete data files no
    * surviving snapshot references (orphan GC — reference T6).
    *
    * RETENTION GUARD: the table's policy properties put a floor under any
    * maintenance call —
    * `history.expire.min-snapshots-to-keep` raises `keepLast`, and
    * `history.expire.max-snapshot-age-ms` keeps every snapshot younger
    * than the horizon regardless of count.
    *
    * DELIBERATE DIVERGENCE from Apache Iceberg (whose property name this
    * borrows): in Iceberg an explicit `retain_last` argument OVERRIDES
    * the property default; here the policy floor wins over any explicit
    * argument — `max(keepLast, floor)`. The property is a protective
    * control set by the table owner (the 24/7-streaming-checkpoint
    * contract below); letting a routine maintenance call override it
    * would make the guard advisory. Collecting below the floor requires
    * lowering the property first — one deliberate ALTER, never a typo'd
    * keep_last. q68 pins this floor-wins behavior in the oracle. A 24/7 stream whose checkpoint
    * trails by less than the policy floor therefore survives routine
    * expiration; collecting past the floor requires explicitly lowering
    * the policy first, and a checkpoint orphaned ANYWAY (no policy, or a
    * deliberate override) still fails its restart with the descriptive
    * recovery error in the streaming source. */
  def expireSnapshots(keepLast: Int): Unit = {
    requireMain("expire_snapshots")
    val all = versions
    val props = all.lastOption.fold(Map.empty[String, String])(snapshot(_).properties)
    val floorKeep = props.get(SnapshotTable.MinSnapshotsToKeep)
      .map(_.trim.toInt).getOrElse(1)
    val minAgeMs = props.get(SnapshotTable.MaxSnapshotAgeMs)
      .map(_.trim.toLong).getOrElse(0L)
    val now = System.currentTimeMillis()
    val byCount = all.splitAt(
      math.max(0, all.size - math.max(keepLast, floorKeep)))._1
    // commit timestamps are monotone across versions, so the age floor
    // keeps a clean suffix — no gaps in the surviving history. Tagged
    // versions are pinned no matter their age/position: a tag's whole
    // point is surviving routine maintenance.
    val allRefs = refs
    val tagged = allRefs.collect { case (_, ("tag", v)) => v }.toSet
    val drop = byCount.filterNot(tagged)
      .filter(v => now - snapshot(v).timestampMs >= minAgeMs)
    val keep = all.filterNot(drop.contains)
    // data files any BRANCH chain references are live too — a branch's
    // commits are invisible to main's version list but its files share
    // this table's data/ directory. Delete files (both flavors) are part
    // of a snapshot's content: collected with the versions that reference
    // them, kept while any survivor does
    val branchSnaps = branchSnapshots
    val live = (keep.map(snapshot) ++ branchSnaps)
      .flatMap(SnapshotTable.referencedPaths).toSet
    val dead = drop.map(snapshot).flatMap(SnapshotTable.referencedPaths).toSet -- live
    deleteDataFiles(dead)
    drop.foreach(log.drop)
    // manifest-chunk sweep: chunks referenced by NO surviving snapshot
    // (main or branch) and older than an hour are garbage — expired
    // versions' chunks, lost-race commit attempts, dropped branches. The
    // grace window protects a concurrent writer's just-published chunks.
    val liveRefs = (keep.map(snapshot) ++ branchSnaps)
      .flatMap(_.manifestRefs)
      .map(r => Paths.get(r).toAbsolutePath.normalize.toString).toSet
    val cutoffMs = System.currentTimeMillis() - 3600L * 1000
    SnapshotLog.chunks(location)
      .filterNot(p => liveRefs(p.toAbsolutePath.normalize.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoffMs)
      .foreach(p => Files.deleteIfExists(p))
    // orphan sweep: staging dirs survive only if a writer crashed between
    // staging and commit/abort — anything older than an hour is garbage
    val staging = Paths.get(location, "_staging")
    if (Files.isDirectory(staging)) {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      scala.util.Using.resource(Files.list(staging))(
        _.iterator().asScala
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
          .toList).foreach(p => graft.Tables.deleteRecursively(p.toString))
    }
  }

  // ------------------------------------------------------------ internals

  /** Write df into immutable new files under `data/`; return their
    * manifest entries. Row counts, byte sizes, and min/max column stats
    * come from the parquet footers of the just-written files — a
    * distributed metadata-only pass (O(files) footer reads, not a second
    * O(data) scan), mirroring how Iceberg collects stats from write tasks.
    *
    * Partitioned tables (identity transforms) write a Hive
    * `col=value/` layout via `partitionBy` and surface the partition
    * values as min==max manifest stats, so partition pruning rides the
    * same stats-pruning machinery as data-column range skipping.
    */
  private def stage(df: DataFrame, base: SnapshotTable.Snapshot,
      pcols: Seq[String],
      applySortOrder: Boolean = true): Seq[SnapshotTable.DataFile] = {
    // the declared write sort order, restricted to columns this frame
    // actually carries (see [[SnapshotTable.SortOrder]])
    val sortCols: Seq[String] =
      if (!applySortOrder) Seq.empty
      else base.properties.getOrElse(SnapshotTable.SortOrder, "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
    // INT64 micros timestamps: footer stats are usable (INT96 has none)
    // and the files stay readable by other engines
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // rows the driver already holds (see [[SnapshotTable.driverRows]])
    // become ONE file written right here: no Spark job, and no split into
    // defaultParallelism slivers. Only unsorted, unpartitioned writes have
    // no layout to arrange, so only they take this path.
    val local =
      if (pcols.isEmpty && sortCols.isEmpty) SnapshotTable.driverRows(df)
      else None
    val paths: Seq[String] =
      if (local.isDefined) {
        // a fresh dir reachable only through this commit: a crash before
        // the commit leaves an orphan that removeOrphans sweeps
        val uuid = java.util.UUID.randomUUID.toString
        val dir = Files.createDirectories(dataDir.resolve(uuid))
        val path = dir.resolve(s"part-00000-$uuid.parquet").toString
        ParquetOutput(spark, df.schema).writeFile(path, local.get.iterator)
        Seq(path)
      } else if (pcols.isEmpty) {
        val dir = dataDir.resolve(java.util.UUID.randomUUID.toString)
        val arranged =
          if (sortCols.isEmpty) df
          else {
            // range-distribute then sort: each output file covers a
            // DISJOINT sort-column range, so its manifest min/max are
            // tight and point/range predicates prune whole files — the
            // layout `WRITE ORDERED BY` exists for. File count preserved.
            import org.apache.spark.sql.functions.col
            val n = math.max(1, df.rdd.getNumPartitions)
            df.repartitionByRange(n, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
          }
        arranged.write.parquet(dir.toString)
        parquetFilesIn(dir).map(_.toString)
      } else {
        // Hive-style directory layout for humans and layout-aware tools,
        // BUT the partition source columns are also written INTO the data
        // files (Iceberg's identity-partition design): the dirs are keyed
        // by a `__gp_<col>` alias so `partitionBy` doesn't consume the
        // real column. Readers then never need directory-based partition
        // recovery — every file is self-describing, so flat rewrite files
        // (row-level UPDATE/MERGE/DELETE, streaming epochs) coexist with
        // partitioned inserts in one table.
        val tmp = Paths.get(location, "_staging", java.util.UUID.randomUUID.toString)
        val fields = pcols.map(PartitionFields.parse)
        val dirCols = fields.map(f => s"__gp_${f.dirKey}")
        // identity fields key dirs by the raw value; bucket fields by
        // pmod(hash(col), n) — Spark's own Murmur3, codegen'd, the exact
        // function the FunctionCatalog `bucket` surface mirrors
        val withDirKeys = fields.zip(dirCols).foldLeft(df) { case (d, (f, dc)) =>
          import org.apache.spark.sql.functions.{col, hash, lit, month, pmod, substring, to_date, year}
          f match {
            case PartitionFields.Identity(c) => d.withColumn(dc, col(c))
            case PartitionFields.Bucket(n, c) =>
              d.withColumn(dc, pmod(hash(col(c)), lit(n)))
            case PartitionFields.Truncate(w, c) =>
              // resolve the source type case-insensitively, like col(c)
              // does (df.schema(c) is case-sensitive and would fail a
              // differently-cased append that identity/bucket accept)
              val dt = df.schema.fields
                .find(_.name.equalsIgnoreCase(c)).map(_.dataType)
              val dir = dt match {
                case Some(org.apache.spark.sql.types.StringType) =>
                  substring(col(c), 1, w)
                case _ => col(c) - pmod(col(c), lit(w))
              }
              d.withColumn(dc, dir)
            // time transforms (sessions are pinned UTC, so to_date/year/
            // month agree with the FunctionCatalog mirrors' floorDiv)
            case PartitionFields.TimeUnit("hours", c) =>
              // floor division via pmod: timestamp→long is epoch seconds.
              // TIMESTAMP_NTZ has no direct cast to LONG — route it
              // through TIMESTAMP first (sessions are pinned UTC, so the
              // resulting hour ordinal matches the FunctionCatalog
              // mirror's floorDiv over the NTZ's raw micros exactly)
              val ntz = df.schema.fields
                .find(_.name.equalsIgnoreCase(c))
                .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
              val sec = (if (ntz) col(c).cast("timestamp") else col(c)).cast("long")
              d.withColumn(dc, ((sec - pmod(sec, lit(3600))) / 3600).cast("int"))
            case PartitionFields.TimeUnit("days", c) =>
              d.withColumn(dc, to_date(col(c)))
            case PartitionFields.TimeUnit("months", c) =>
              d.withColumn(dc,
                (year(col(c)) - lit(1970)) * lit(12) + month(col(c)) - lit(1))
            case PartitionFields.TimeUnit(_, c) => // years
              d.withColumn(dc, year(col(c)) - lit(1970))
          }
        }
        // hash-distribute by the partition values (Iceberg's default write
        // distribution): each partition value lands in one task, so an
        // append writes one file per partition instead of tasks×partitions
        // small files — the exact problem the reference demos compaction
        // for. A pathologically hot partition serializes into one task;
        // compact(clusterBy/zorderBy) is the rebalance for that.
        // The partition count is EXPLICIT (the session's shuffle
        // parallelism, Iceberg's hash write-distribution sizing): with no
        // count, AQE coalesces a small exchange to ONE task, and that task
        // then opens every partition value's parquet writer serially —
        // measured 4.6 s for a 240-partition append whose 32-task spelling
        // writes the same 240 files in 0.3 s (guide §2.4/§6; same file
        // count either way, partitionBy splits within the task).
        // ALL-BUCKET specs have a KNOWN finite partition-value domain
        // (the product of the bucket counts): tasks beyond that count
        // can never receive a row — hash-distribution sends each dir
        // value to one task — so cap the exchange there. Specs with an
        // identity/time/truncate field keep the session parallelism
        // (their value domain is unbounded).
        val bucketBound = fields.foldLeft(Option(1L)) {
          case (Some(acc), PartitionFields.Bucket(n, _)) => Some(acc * n)
          case _ => None
        }
        val sessionParts =
          df.sparkSession.sessionState.conf.numShufflePartitions
        val nParts = bucketBound
          .fold(sessionParts)(b => math.max(1L, math.min(sessionParts.toLong, b)).toInt)
        val distributed = withDirKeys.repartition(nParts,
          dirCols.map(org.apache.spark.sql.functions.col): _*)
        val arranged =
          if (sortCols.isEmpty) distributed
          // within each partition value's file: sorted content → tight
          // parquet row-group stats on the sort columns
          else distributed.sortWithinPartitions(
            (dirCols ++ sortCols).map(org.apache.spark.sql.functions.col): _*)
        arranged.write.partitionBy(dirCols: _*).parquet(tmp.toString)
        val staged = scala.util.Using.resource(Files.walk(tmp))(
          _.iterator().asScala
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .toSeq).sorted
        val uuid = java.util.UUID.randomUUID.toString.take(8)
        val moved = staged.zipWithIndex.map { case (p, i) =>
          val rel = tmp.relativize(p.getParent).toString
          val destDir = dataDir.resolve(rel)
          Files.createDirectories(destDir)
          val dest = destDir.resolve(s"$uuid-$i-${p.getFileName}")
          Files.move(p, dest)
          dest.toString
        }
        graft.Tables.deleteRecursively(tmp.toString)
        moved.sorted
      }
    manifestEntries(paths, df.schema, pcols, base)
  }

  /** Footer-stats manifest entries for already-written parquet files: row
    * counts, byte sizes, and min/max stats from a distributed metadata-only
    * footer pass, plus Hive partition values recovered from directory
    * names as min==max stats. The files are written under `base`'s schema
    * generation — the rename log classifies files by it (a rename
    * committed LATER has a higher version, so these files correctly
    * resolve to their written names) — and sketched as its properties
    * ask. */
  private def manifestEntries(paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      pcols: Seq[String], base: SnapshotTable.Snapshot): Seq[SnapshotTable.DataFile] = {
    val statCols: Seq[(String, String)] = schema.fields.toSeq
      .flatMap(f => SnapshotTable.statType(f.dataType).map(t => f.name -> t))
      .take(8)
    val schemaByName = schema.fields.map(f => f.name -> f.dataType).toMap
    val footer = footerStatsOf(paths, statCols)
    val sketches = ndvSketches(paths, schema, base.properties)
    paths.map { p =>
      val (rows, bytes, stats) = footer.getOrElse(p, (-1L, -1L, Map.empty[String, SnapshotTable.ColStats]))
      // partition values ride the stats map as min==max entries
      val partStats = SnapshotTable.partitionValueStats(
        dataDir.toString, p, pcols, schemaByName)
      SnapshotTable.DataFile(p, rows, stats ++ partStats, bytes, base.version,
        sketches.getOrElse(readerPath(p), Map.empty))
    }
  }

  /** Footer stats of just-written files, keyed by path. Small commits
    * (≤ 32 files — every delete ledger, most appends) read them on the
    * driver pool: a Spark job costs ~50-100 ms of fixed scheduling for
    * what is a few milliseconds of local metadata IO, and every commit
    * pays this pass. Large commits (the cluster/object-store shape, where
    * per-footer latency is the cost) read them in a distributed pass. */
  private def footerStatsOf(paths: Seq[String],
      statCols: Seq[(String, String)])
      : Map[String, (Long, Long, Map[String, SnapshotTable.ColStats])] =
    if (paths.isEmpty) Map.empty
    else if (paths.size <= 32) SnapshotTable.parFooterStats(paths, statCols)
    else spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 32)))
      .map(p => p -> SnapshotTable.footerStats(p, statCols))
      .collect().toMap

  /** The parquet files a writer left directly in `dir`, sorted. */
  private def parquetFilesIn(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq).sortBy(_.toString)

  /** Move staged files into a fresh `data/<uuid>/` dir (same-filesystem
    * rename, metadata-only) and return their new paths, sorted. */
  private def moveIntoData(staged: Seq[Path]): Seq[String] = {
    val dest = Files.createDirectories(
      dataDir.resolve(java.util.UUID.randomUUID.toString))
    staged.sortBy(_.toString).map { p =>
      val d = dest.resolve(p.getFileName)
      Files.move(p, d)
      d.toString
    }
  }

  /** Per-file HLL distinct-count sketches for the columns the
    * `write.ndv-sketch.columns` property names (`auto` = every
    * sketch-eligible stats column) — one column-pruned Spark pass over
    * the just-written files, grouped by `_metadata.file_path`, using
    * Spark's DataSketches `hll_sketch_agg` (lgK=12, ~1.6% rel. error).
    * Keyed by the reader's path spelling ([[readerPath]]). Empty map
    * (zero cost) unless the table opted in. */
  private def ndvSketches(paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      props: Map[String, String]): Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val prop = props.get(SnapshotTable.NdvSketchColumns)
      .map(_.trim).filter(_.nonEmpty)
    if (prop.isEmpty || paths.isEmpty) return Map.empty
    // hll_sketch_agg accepts int/long/string/binary: route dates and
    // timestamps through their integral representations, leave types
    // with no sensible NDV (double, nested) out
    def sketchExpr(f: StructField): Option[org.apache.spark.sql.Column] = {
      val q = s"`${f.name.replace("`", "``")}`"
      f.dataType match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             BinaryType => Some(expr(q))
        case DateType => Some(expr(s"unix_date($q)"))
        case TimestampType => Some(expr(s"unix_micros($q)"))
        case TimestampNTZType =>
          Some(expr(s"unix_micros(cast($q AS TIMESTAMP))"))
        case _ => None
      }
    }
    val wanted: Seq[StructField] =
      if (prop.get.equalsIgnoreCase("auto")) schema.fields.toSeq
      else {
        val names = prop.get.split(',').map(_.trim).filter(_.nonEmpty)
        names.flatMap(n => schema.fields.find(_.name.equalsIgnoreCase(n))).toSeq
      }
    val cols = wanted.flatMap(f => sketchExpr(f).map(f.name -> _))
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map { case (name, c) =>
      expr(s"hll_sketch_agg(__gndv_$name, 12)").as(name)
    }
    val prepared = cols.foldLeft(
        spark.read.schema(schema).parquet(paths: _*)
          .withColumn("__gndv_file", col("_metadata.file_path"))) {
      case (d, (name, c)) => d.withColumn(s"__gndv_$name", c)
    }
    prepared.groupBy(col("__gndv_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { row =>
        row.getString(0) -> cols.indices.flatMap { i =>
          Option(row.get(i + 1)).map { v =>
            cols(i)._1 -> java.util.Base64.getEncoder
              .encodeToString(v.asInstanceOf[Array[Byte]])
          }
        }.toMap
      }.toMap
  }

  /** Table-level distinct-count estimate for `column`, answered
    * METADATA-ONLY by unioning the live files' HLL sketches — no data
    * IO, O(files) driver work (the Puffin/ANALYZE capability). None when
    * any live file lacks a sketch for the column (an unknown must read
    * as unknown, never as an undercount). */
  def ndvEstimate(column: String): Option[Long] = {
    val perFile = head.files.map(_.ndv.get(column))
    if (perFile.isEmpty || perFile.exists(_.isEmpty)) return None
    val union = new org.apache.datasketches.hll.Union(12)
    perFile.flatten.foreach { b64 =>
      union.update(org.apache.datasketches.hll.HllSketch.heapify(
        java.util.Base64.getDecoder.decode(b64)))
    }
    Some(math.round(union.getEstimate))
  }

  /** Adopt parquet files an EXTERNAL writer staged under `stagedDir` (the
    * DSv2 row-level UPDATE/MERGE write delegates the data writing to
    * Spark's own parquet batch write) and commit them as the table's
    * complete new content — write-then-swap, conflict-checked against
    * `baseVersion` like [[replace]]. The files are renamed into `data/`
    * (same-filesystem move, metadata-only) before the commit. */
  private[table] def replaceWithStagedDir(baseVersion: Int,
      stagedDir: java.nio.file.Path, operation: String,
      replacedPaths: Option[Set[String]] = None): Int = {
    val moved = moveIntoData(parquetFilesIn(stagedDir))
    val base = snapshot(baseVersion)
    val files = manifestEntries(moved, base.schema, Seq.empty, base)
    commit(operation) { b =>
      requireUnmoved(b, baseVersion, s"row-level $operation")
      // None = full replace, which starts a clean position ledger;
      // Some(paths) = only the scanned (rewritten) files are swapped out,
      // files the scan skipped survive untouched with their delete
      // entries live (rewritten files' entries go stale-harmless — their
      // paths left the list)
      replacedPaths match {
        case Some(replaced) =>
          b.copy(files = b.files.filterNot(f => replaced(f.path)) ++ files)
        case None => b.copy(files = files, deleteFiles = Seq.empty)
      }
    }
  }

  /** True if any snapshot was committed with `operation` — the one replay
    * check behind exactly-once streaming epochs. */
  def hasOperation(operation: String): Boolean =
    versions.exists(v => snapshot(v).operation == operation)

  /** Append parquet files an EXTERNAL writer staged (the DSv2 streaming
    * epoch write): rename them into `data/`, collect footer stats, commit
    * as an append tagged `operation`. Schema union like [[append]]. */
  private[table] def appendStagedFiles(stagedPaths: Seq[java.nio.file.Path],
      schema: org.apache.spark.sql.types.StructType, operation: String): Int =
    commitStaged(stagedPaths, schema, operation)((b, files) =>
      b.copy(files = b.files ++ files,
        schemaJson = SnapshotTable.unionSchema(b, schema)))

  /** Replace the table's ENTIRE content with parquet files an external
    * writer staged (the DSv2 streaming COMPLETE-mode epoch write: each
    * epoch re-emits the full aggregate result, so the epoch commit swaps
    * the whole file list instead of appending). Same rename-into-`data/`
    * + footer-stats path as [[appendStagedFiles]]; an empty staged set is
    * a legitimate complete-mode result and commits an empty snapshot. */
  private[table] def replaceStagedFiles(stagedPaths: Seq[java.nio.file.Path],
      schema: org.apache.spark.sql.types.StructType, operation: String): Int =
    commitStaged(stagedPaths, schema, operation)((b, files) =>
      b.copy(files = files, schemaJson = schema.json, deleteFiles = Seq.empty))

  /** The body both staged-file commits share: rename the external
    * writer's files into `data/`, collect their footer stats, and commit
    * `edit` with their manifest entries. */
  private def commitStaged(stagedPaths: Seq[java.nio.file.Path],
      schema: org.apache.spark.sql.types.StructType, operation: String)(
      edit: (SnapshotTable.Snapshot, Seq[SnapshotTable.DataFile]) =>
        SnapshotTable.Snapshot): Int = {
    val moved = moveIntoData(stagedPaths)
    val files = manifestEntries(moved, schema, Seq.empty, head)
    commit(operation)(edit(_, files))
  }

  /** Decide this commit's manifest layout. Small file lists stay INLINE
    * in the snapshot document (zero overhead, the dominant test/dev
    * shape); above the threshold ([[SnapshotTable.ManifestInlineMax]]
    * table property) the list is SEGMENTED: every base chunk whose
    * entries all survive unchanged is reused BY REFERENCE, and only the
    * leftover entries (the commit's new files, plus survivors of
    * partially-invalidated chunks) are written into fresh chunks — an
    * append onto a million-file table writes one small chunk and one
    * small snapshot document instead of re-rendering the whole manifest
    * (the metadata term that would otherwise bind every commit at
    * 100 TB). Returns (refs, files-in-ref-order); inline → (empty,
    * stamped unchanged). */
  private def chunkLayout(base: SnapshotTable.Snapshot,
      stamped: Seq[SnapshotTable.DataFile], props: Map[String, String])
      : (Seq[String], Seq[SnapshotTable.DataFile]) = {
    val inlineMax = props.get(SnapshotTable.ManifestInlineMax)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(SnapshotTable.DefaultManifestInlineMax)
    if (stamped.size <= inlineMax) return (Seq.empty, stamped)
    val byPath = stamped.map(f => f.path -> f).toMap
    val covered = scala.collection.mutable.HashSet.empty[String]
    val reusedRefs = Seq.newBuilder[String]
    val reusedEntries = Seq.newBuilder[SnapshotTable.DataFile]
    base.manifestRefs.foreach { r =>
      val entries = SnapshotTable.readChunk(r)
      if (entries.nonEmpty &&
          entries.forall(e => !covered(e.path) &&
            byPath.get(e.path).contains(e))) {
        reusedRefs += r
        reusedEntries ++= entries
        covered ++= entries.map(_.path)
      }
    }
    val leftovers = stamped.filterNot(f => covered(f.path))
    // chunks live under main's log for branch commits too (see
    // SnapshotLog); unreferenced ones are swept by expiration
    val newRefs = SnapshotLog.writeChunks(location, leftovers
      .grouped(SnapshotTable.ChunkEntries).map(SnapshotTable.renderChunk).toSeq)
    (reusedRefs.result() ++ newRefs, reusedEntries.result() ++ leftovers)
  }

  /** THE commit: `edit` turns the latest snapshot into the next one
    * (callers write `base.copy(...)`, so every field they leave alone
    * carries forward), and the result is published as the next version.
    * A lost publish re-reads the new head and runs `edit` again on top of
    * it (optimistic rebase); an edit aborts instead by calling one of the
    * conflict rules ([[requireUnmoved]], [[requireLive]],
    * [[requireLedgers]]). Before the empty table's first commit the base
    * is version -1 with an empty schema.
    *
    * The commit alone stamps what a commit adds: version, timestamp,
    * operation and manifest layout ([[chunkLayout]]), and the committed
    * version into every entry that arrives unstamped — a new data file's
    * `addedAt`, an equality delete's `atVersion`, a rename's
    * `atVersion`. Stamps are re-made per attempt, so a rebased commit
    * scopes its equality deletes to the version that actually wins.
    * Entries that already carry a stamp keep it (rollback restores old
    * files WITH their old sequence position, so restored equality deletes
    * keep applying to them); a data file carried from the base keeps even
    * a legacy -1. */
  private def commit(operation: String)(
      edit: SnapshotTable.Snapshot => SnapshotTable.Snapshot): Int = {
    var attempts = 0
    while (attempts < SnapshotTable.CommitAttempts) {
      attempts += 1
      val base = head
      val v = base.version + 1
      val next = edit(base)
      def stamp(at: Int): Int = if (at < 0) v else at
      val basePaths = base.files.map(_.path).toSet
      val files = next.files.map(f =>
        if (basePaths(f.path)) f else f.copy(addedAt = stamp(f.addedAt)))
      val (refs, ordered) = chunkLayout(base, files, next.properties)
      val snap = next.copy(version = v,
        timestampMs = System.currentTimeMillis(), files = ordered,
        operation = operation,
        renames = next.renames.map(r => r.copy(atVersion = stamp(r.atVersion))),
        eqDeleteFiles = next.eqDeleteFiles.map(d =>
          d.copy(atVersion = stamp(d.atVersion))),
        manifestRefs = refs)
      // the commit point: atomic publish-if-absent of the version
      // ([[CommitPrimitive]] — hard link here, conditional PUT on S3)
      if (log.publish(v, SnapshotTable.renderSnapshot(snap))) return v
    }
    throw new IllegalStateException(s"commit to $location lost " +
      s"${SnapshotTable.CommitAttempts} races, giving up")
  }

  /** Conflict rule: the base has not moved past `validated`, the version
    * the caller read and validated against. Operations that commit a
    * state derived from that one snapshot (copy-on-write rewrites, ALTER,
    * probe-based MERGE, fast_forward) must never rebase. */
  private def requireUnmoved(base: SnapshotTable.Snapshot, validated: Int,
      during: String, remedy: String = ""): Unit =
    if (base.version != validated)
      throw new java.util.ConcurrentModificationException(
        s"table $location moved v$validated -> v${base.version} during " +
          during + remedy)

  /** Conflict rule: every file the operation scanned is still live — a
    * concurrent rewrite moved the rows it read. */
  private def requireLive(base: SnapshotTable.Snapshot, scanned: Set[String],
      op: String, remedy: String = ""): Unit = {
    val live = base.files.map(_.path).toSet
    if (!scanned.forall(live))
      throw new java.util.ConcurrentModificationException(
        s"$op inputs at $location were rewritten concurrently" + remedy)
  }

  /** Conflict rule: both delete ledgers are as the operation read them in
    * `read` — a rewrite that folds the ledger would otherwise clear a
    * concurrent delete WITHOUT its rows removed. */
  private def requireLedgers(base: SnapshotTable.Snapshot,
      read: SnapshotTable.Snapshot, op: String): Unit = {
    val landed = Seq(
      "position" -> (base.deleteFiles.map(_.path) != read.deleteFiles.map(_.path)),
      "equality" -> (base.eqDeleteFiles.map(_.path) != read.eqDeleteFiles.map(_.path)))
      .collect { case (flavor, true) => flavor }
    if (landed.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"${landed.mkString(" and ")} deletes landed on $location during $op")
  }
}

object SnapshotTable {

  /** Per-column min/max, stored as strings with a type tag
    * (`long` | `double` | `string` | `ts` | `date`) for comparison at
    * prune time. `ts` bounds are micros-since-epoch; `date` bounds are
    * epoch days. */
  case class ColStats(typ: String, min: String, max: String)

  /** `schemaVersion` = the snapshot version whose schema the file was
    * written under (-1 for legacy manifests): the key that makes RENAME
    * COLUMN a metadata-only operation — a file predating a rename
    * physically stores the OLD parquet column name, and the read path
    * resolves each file's local names through the rename log
    * ([[fileLocalNames]]).
    *
    * `ndv` = optional per-column DISTINCT-COUNT sketches (Apache
    * DataSketches HLL, compact bytes, base64 in the manifest JSON) —
    * the Iceberg-Puffin idea carried inline at Delta-lite cost. Sketches
    * are MERGEABLE (register-wise union), so table/partition-level NDV
    * is answerable metadata-only from the manifest; see
    * [[SnapshotTable.ndvEstimate]]. Populated only when the
    * `write.ndv-sketch.columns` table property opts the table in (the
    * sketch pass re-reads the just-written columns once per commit —
    * a deliberate write-side cost the owner chooses). */
  /** `addedAt` = the snapshot version that first committed the file
    * (-1 for legacy manifests), stamped centrally by the commit loop —
    * the sequence-number ordering equality deletes scope on: an equality
    * delete at version v applies only to rows of files added BEFORE v,
    * so an upsert's own new rows survive the delete committed alongside
    * them (Iceberg v2's data-sequence-number rule). Legacy -1 reads as
    * "older than everything", which is exact for every file that existed
    * before this field did (no equality delete predates the field). */
  case class DataFile(path: String, rows: Long,
      stats: Map[String, ColStats] = Map.empty, bytes: Long = -1L,
      schemaVersion: Int = -1,
      ndv: Map[String, String] = Map.empty,
      addedAt: Int = -1)

  /** The stamp of an entry not yet committed (`addedAt` / `atVersion`):
    * [[SnapshotTable.commit]] writes the committed version into it. */
  private[table] val Unstamped = -1

  /** One RENAME COLUMN event: at snapshot `atVersion`, `oldName` became
    * `newName`. Files with schemaVersion < atVersion store `oldName`. */
  case class Rename(atVersion: Int, newName: String, oldName: String)

  /** A position-delete file (Iceberg v2 merge-on-read): a sorted parquet
    * file of `(file_path STRING, pos BIGINT)` rows marking individual data
    * rows as deleted without rewriting their files. `rows` is the entry
    * count; `minPath`/`maxPath` bound the `file_path` column (from the
    * parquet footer) so readers and the changelog can skip delete files
    * that cannot reference a given data file — the same scoping Iceberg
    * gets from per-delete-file referenced-data-file bounds. Paths inside
    * the entries use the reader's `_metadata.file_path` spelling (URI
    * form), which is also how they are produced — self-consistent by
    * construction; a manifest path is compared with them only after
    * `readerPath` respells it. */
  case class DeleteFile(path: String, rows: Long, bytes: Long = -1L,
      minPath: String = "", maxPath: String = "")

  /** An equality-delete file (Iceberg v2's second delete flavor, the
    * streaming-CDC upsert primitive): a parquet file holding DISTINCT
    * key tuples under `keyCols`; a row in a data file added before
    * `atVersion` is deleted iff its key tuple null-safe-equals an entry.
    * Written WITHOUT reading the base table — the property that makes a
    * 100 TB upsert cost O(batch): position deletes must first scan to
    * find the doomed rows, an equality delete just states the keys. */
  case class EqDeleteFile(path: String, rows: Long, bytes: Long = -1L,
      keyCols: Seq[String] = Seq.empty, atVersion: Int = -1)

  /** True when equality delete `d` applies to the rows of `f`: the file
    * was added before the delete's commit (or predates addedAt stamps). */
  private[table] def eqDeleteApplies(d: EqDeleteFile, f: DataFile): Boolean =
    f.addedAt < 0 || f.addedAt < d.atVersion

  /** Validate table properties being set against the declared `schema`,
    * so a typo'd policy fails at ALTER time, not silently at the next
    * expiration or commit — shared by [[SnapshotTable.setProperties]] and
    * the catalog's ALTER TABLE … SET TBLPROPERTIES. */
  private[table] def checkProperties(set: Map[String, String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    set.get(MinSnapshotsToKeep).foreach(v =>
      require(v.trim.matches("\\d+") && v.trim.toInt >= 1,
        s"$MinSnapshotsToKeep must be a positive integer, got '$v'"))
    set.get(MaxSnapshotAgeMs).foreach(v =>
      require(v.trim.matches("\\d+"),
        s"$MaxSnapshotAgeMs must be a non-negative integer, got '$v'"))
    set.get(MaxEqDeleteFiles).foreach(v =>
      require(v.trim.matches("\\d+") && v.trim.toInt >= 1,
        s"$MaxEqDeleteFiles must be a positive integer, got '$v'"))
    set.get(SortOrder).foreach(v =>
      v.split(",").map(_.trim).filter(_.nonEmpty).foreach(c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"$SortOrder: unknown column $c")))
  }

  /** The name of a directory one stage owns under `data/`: `<uuid>/`,
    * `deletes-<uuid>/`, `eqdeletes-<uuid>/` or add_files' `added-<id>/`. */
  private[table] val StageDir =
    "(?:(?:eq)?deletes-)?[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}|added-[0-9a-f]{8}".r

  /** The most delete entries (position plus equality, manifest `rows`) a
    * read applies as literal row predicates ([[literalLedger]]). The bound
    * is set by plan size, not scan cost: Spark renders every `InSet`
    * element into each query's plan description, about 190 characters
    * per position entry and once per stratum. 100 entries keep that near
    * 20 KB; the steady state between compactions holds a few to tens. */
  private[table] val LiteralLedgerMax = 100L

  /** True when a read applies the ledger `dels` + `eqDels` as literal row
    * predicates on the driver-read entries rather than anti-joining: every
    * file's manifest row count is known and they sum to at most
    * [[LiteralLedgerMax]]. Manifest facts only — no IO. */
  private[table] def literalLedger(dels: Seq[DeleteFile],
      eqDels: Seq[EqDeleteFile]): Boolean = {
    val rows = dels.map(_.rows) ++ eqDels.map(_.rows)
    rows.forall(_ >= 0) && rows.sum <= LiteralLedgerMax
  }

  /** The row predicate NOT (`key` ∈ `entries`), with the null-safe match of
    * the `<=>` anti-join it replaces. The key is tested as a struct against
    * `InSet`'s sorted set under Spark's ordering, where a NULL component
    * equals a NULL component (a NULL entry kills NULL-keyed rows, a NULL
    * key survives every non-NULL entry) and 0.0 equals -0.0 and NaN equals
    * NaN, as the join's key normalization has them. */
  private[table] def notIn(key: Seq[String],
      entries: Seq[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{CreateStruct, InSet, Not}
    org.apache.spark.sql.ExpressionColumn(Not(InSet(
      CreateStruct(key.map(UnresolvedAttribute.quoted)), entries.toSet[Any])))
  }

  /** The rows of small parquet files under `schema`, read on the driver
    * through Spark's own `ParquetFileFormat` reader — the read-side twin of
    * [[ParquetOutput]]: the session's parquet settings apply, and no
    * Spark job starts. */
  private[table] def driverParquetRows(spark: SparkSession, paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val conf = spark.sessionState.newHadoopConf()
    val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, schema,
        org.apache.spark.sql.types.StructType(Nil), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    paths.flatMap { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val len = path.getFileSystem(conf).getFileStatus(path).getLen
      read(PartitionedFile(org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(path), 0L, len,
        Array.empty[String], 0L, len, Map.empty[String, Any]))
        .map(_.copy()).toVector
    }
  }

  /** Every file snapshot `s` references: data and both delete flavors. */
  private[table] def referencedPaths(s: Snapshot): Seq[String] =
    s.files.map(_.path) ++ s.deleteFiles.map(_.path) ++
      s.eqDeleteFiles.map(_.path)

  /** One commit `s` against its predecessor `p`, as the changelog walk
    * sees it: data files added, removed and carried, and delete files of
    * both flavors new at `s` or dropped by it. */
  private[table] case class CommitDelta(s: Snapshot, p: Snapshot,
      added: Seq[DataFile], removed: Seq[DataFile], survivors: Seq[DataFile],
      newDels: Seq[DeleteFile], droppedDels: Seq[DeleteFile],
      newEqs: Seq[EqDeleteFile], droppedEqs: Seq[EqDeleteFile])

  /** `manifestRefs`: when non-empty, the snapshot document stores NO
    * inline file entries — `files` was materialized from these immutable
    * manifest-chunk files at parse time (see [[parseSnapshot]]). The
    * segmentation that keeps commit metadata O(changed files): an append
    * onto a million-file table reuses every intact chunk by reference and
    * writes ONE new chunk holding just its own files, instead of
    * re-rendering the whole file list into the snapshot JSON (Iceberg's
    * manifest-list design). Refs are absolute paths, so branch documents
    * share main's chunks and clones resolve across table roots. */
  case class Snapshot(version: Int, timestampMs: Long, schemaJson: String,
      files: Seq[DataFile], operation: String,
      partitionCols: Seq[String] = Seq.empty,
      renames: Seq[Rename] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      deleteFiles: Seq[DeleteFile] = Seq.empty,
      eqDeleteFiles: Seq[EqDeleteFile] = Seq.empty,
      manifestRefs: Seq[String] = Seq.empty) {
    /** The declared schema, decoded once per snapshot instance (snapshots
      * are memoized per table, so once per version). */
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Metadata column aliases the merge-on-read run through the V1 parquet
    * reader uses to carry each row's provenance for the delete anti-join. */
  private[table] val MetaFile = "__gd_file"
  private[table] val MetaPos = "__gd_pos"

  /** The physical schema of a position-delete file. */
  private[table] val deleteEntrySchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))

  /** Table property selecting the DELETE strategy for SQL `DELETE FROM`:
    * `merge-on-read` writes position deletes; anything else (default)
    * keeps copy-on-write. Iceberg's property name. */
  val DeleteMode = "write.delete.mode"

  /** Table property declaring a WRITE SORT ORDER (Iceberg's
    * `WRITE ORDERED BY` surface): a comma-separated column list every
    * staged write arranges by — unpartitioned writes RANGE-distribute
    * across their output files and sort within them (so manifest min/max
    * on the sort columns become disjoint and point/range predicates
    * prune at the FILE level), partitioned writes sort within each
    * partition's file (tight parquet row-group stats). Plain compaction
    * honors it; explicit `zorder_by`/`cluster_by` compaction arguments
    * override it for that rewrite. Sort columns missing from a
    * particular append's frame are skipped for that write (additive
    * schema evolution keeps working); unknown columns are refused at
    * ALTER time. */
  val SortOrder = "write.sort-order"

  /** Table property opting writes into per-file HLL NDV sketches: a
    * comma-separated column list, or `auto` for every sketch-eligible
    * stats column. Costs one column-pruned re-read of each commit's new
    * files; buys metadata-only distinct-count answers
    * ([[SnapshotTable.ndvEstimate]], the `t.files` ndv column). */
  val NdvSketchColumns = "write.ndv-sketch.columns"

  /** Table property: file-entry count above which a commit writes the
    * manifest SEGMENTED (chunk files + by-reference reuse,
    * [[Snapshot.manifestRefs]]) instead of inline in the snapshot
    * document. Default [[DefaultManifestInlineMax]]; lower it to force
    * the segmented path (tests), raise it to pin small tables inline. */
  val ManifestInlineMax = "write.manifest.inline-max"
  val DefaultManifestInlineMax = 512
  /** Table property: max live equality-delete files before an upsert /
    * delete commit auto-triggers [[SnapshotTable.foldEqDeletes]] (absent
    * = never auto-fold; maintenance stays manual via compact). Bounds a
    * 24/7 upsert stream's read-side strata at bound+1. */
  val MaxEqDeleteFiles = "write.delete.max-eq-files"
  /** Max file entries per manifest chunk (bounds chunk parse cost). */
  val ChunkEntries = 8192

  /** Publish attempts before a commit gives up ([[SnapshotTable.commit]]). */
  private val CommitAttempts = 20

  /** Retention-policy table properties (Iceberg's names): expiration may
    * never collect below these floors, no matter what a maintenance job
    * passes — the guard that keeps routine `expire_snapshots` from
    * collecting versions a 24/7 streaming checkpoint still needs. */
  val MinSnapshotsToKeep = "history.expire.min-snapshots-to-keep"
  val MaxSnapshotAgeMs = "history.expire.max-snapshot-age-ms"

  /** The file-local column names for a file written at `schemaVersion`,
    * one per declared column: inverse-apply every rename NEWER than the
    * file, newest first (a→b→c chain resolves c back to a for a file
    * older than both). Identity when the rename log is empty or the file
    * postdates every rename. */
  private[table] def fileLocalNames(declared: Seq[String], schemaVersion: Int,
      renames: Seq[Rename]): Seq[String] = {
    // inverse-apply strictly newest-first; within one version (a batch
    // ALTER that chained a→b, b→c in a single commit) later log entries
    // are newer, so the index breaks the tie
    val newerFirst = renames.zipWithIndex
      .filter(_._1.atVersion > schemaVersion)
      .sortBy { case (r, i) => (-r.atVersion, -i) }
      .map(_._1)
    declared.map { c =>
      newerFirst.foldLeft(c)((n, r) => if (n == r.newName) r.oldName else n)
    }
  }

  /** True when at least one live file stores a column under a name the
    * declared schema no longer uses — i.e. reads need the rename-mapping
    * path. Compaction rewrites every file under the current names, so a
    * renamed table returns to the plain fast paths after one compact. */
  private[table] def needsRenameMapping(snap: Snapshot): Boolean =
    snap.renames.nonEmpty && {
      val declared = snap.schema.fieldNames.toSeq
      snap.files.exists(f =>
        fileLocalNames(declared, f.schemaVersion, snap.renames) != declared)
    }

  /** Stats-eligible types. Timestamps/dates are stored as their integer
    * representations (micros / epoch days) taken straight from the parquet
    * footer statistics, so comparisons are exact. */
  private[table] def statType(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => Some("long")
      case DoubleType | FloatType => Some("double")
      case StringType => Some("string")
      case TimestampType | TimestampNTZType => Some("ts")
      case DateType => Some("date")
      case _ => None
    }
  }

  // string stats longer than this are dropped rather than truncated: a
  // truncated max would be a LOWER value than the real max — an invalid
  // bound that could wrongly prune files
  private val MaxStringStat = 256

  /** Read one parquet footer: (rowCount, fileBytes, min/max per requested
    * column). Metadata-only — the data pages are never touched. Runs on
    * executors (one task per file). Conservative: any column whose
    * statistics are missing, truncated, or of an unexpected physical type
    * simply gets no entry (→ never pruned on). */
  private[table] def footerStats(path: String, statCols: Seq[(String, String)])
      : (Long, Long, Map[String, ColStats]) = {
    import org.apache.parquet.column.statistics._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.conf.Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bytes = Files.size(Paths.get(path))
      val wanted = statCols.toMap
      // (min, max) accumulated across row groups; None marks a column with
      // an unusable chunk (no stats where values exist) — drop it entirely
      val acc = collection.mutable.Map[String, Option[(String, String)]]()
      def extract(typ: String, st: Statistics[_]): Option[(String, String)] =
        (typ, st) match {
          case ("long", s: LongStatistics) => Some((s.getMin.toString, s.getMax.toString))
          case ("long", s: IntStatistics) => Some((s.getMin.toString, s.getMax.toString))
          case ("double", s: DoubleStatistics) => Some((s.getMin.toString, s.getMax.toString))
          case ("double", s: FloatStatistics) => Some((s.getMin.toDouble.toString, s.getMax.toDouble.toString))
          case ("ts", s: LongStatistics) => Some((s.getMin.toString, s.getMax.toString))
          case ("date", s: IntStatistics) => Some((s.getMin.toString, s.getMax.toString))
          case ("string", s: BinaryStatistics) =>
            val mn = s.genericGetMin.toStringUsingUTF8
            val mx = s.genericGetMax.toStringUsingUTF8
            if (mn.length > MaxStringStat || mx.length > MaxStringStat) None
            else Some((mn, mx))
          case _ => None
        }
      def merge(typ: String, a: (String, String), b: (String, String)): (String, String) = {
        def lt(x: String, y: String): Boolean = typ match {
          case "long" | "ts" | "date" => x.toLong < y.toLong
          case "double" => x.toDouble < y.toDouble
          case _ =>
            org.apache.spark.unsafe.types.UTF8String.fromString(x)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        }
        (if (lt(a._1, b._1)) a._1 else b._1, if (lt(b._2, a._2)) a._2 else b._2)
      }
      for (b <- blocks; cc <- b.getColumns.asScala) {
        val name = cc.getPath.toDotString
        wanted.get(name).foreach { typ =>
          val st = cc.getStatistics
          if (st == null || st.isEmpty) acc(name) = None // stats missing for a chunk with values
          else if (!st.hasNonNullValue) () // all-null chunk: nothing to merge, still prunable
          else extract(typ, st) match {
            case Some(mm) =>
              acc.get(name) match {
                case Some(Some(prev)) => acc(name) = Some(merge(typ, prev, mm))
                case Some(None) => // already invalidated
                case None => acc(name) = Some(mm)
              }
            case None => acc(name) = None
          }
        }
      }
      val stats = acc.toMap.collect { case (n, Some((mn, mx))) =>
        n -> ColStats(wanted(n), mn, mx)
      }
      (rows, bytes, stats)
    } finally reader.close()
  }

  /** The schema `spark.read.parquet(path)` infers for one file, read from
    * its footer on the driver. Same conversion as Spark's inference (the
    * row schema Spark recorded in the footer, else the parquet schema
    * converted under the session's conf), without inference's Spark job. */
  private[table] def footerSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val file = new org.apache.hadoop.fs.Path(path)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The rows of a frame the driver already holds, or None. The test is
    * exact: the optimized plan is a bare, non-empty `LocalRelation`
    * (Spark's `ConvertToLocalRelation` has folded projections, filters
    * and limits into it), whose `LocalTableScanExec` answers
    * `executeCollect` without a Spark job. Only frames whose analyzed
    * leaves are all local relations are optimized here, so file-backed
    * frames skip the extra optimizer pass. */
  private[table] def driverRows(df: DataFrame)
      : Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val qe = df.queryExecution
    if (!qe.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      return None
    qe.optimizedPlan match {
      case r: LocalRelation if r.data.nonEmpty && !r.isStreaming =>
        Some(qe.executedPlan.executeCollect())
      case _ => None
    }
  }

  /** Driver-side footer pass for SMALL commits: the footer reads are
    * independent local metadata IO (~5-20 ms each, dominated by the
    * parquet footer open), so a serial loop over a 16-32 file commit
    * costs 0.1-0.5 s of pure driver latency PER COMMIT — measured as the
    * largest between-jobs gaps on the write-family profile. A bounded
    * thread pool overlaps them; thread count is capped so a driver
    * hosting many concurrent commits can't fork-bomb itself. */
  private[table] def parFooterStats(paths: Seq[String],
      statCols: Seq[(String, String)])
      : Map[String, (Long, Long, Map[String, ColStats])] = {
    if (paths.size <= 1)
      return paths.map(p => p -> footerStats(p, statCols)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(paths.size, 8))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[
        (String, (Long, Long, Map[String, ColStats]))]] =
        paths.map(p => (() => p -> footerStats(p, statCols)): java.util.concurrent.Callable[(String, (Long, Long, Map[String, ColStats]))])
      // rethrow a footer failure as itself, exactly as the serial path
      // above does, not wrapped in the pool's ExecutionException
      pool.invokeAll(tasks.asJava).asScala.map { f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException if e.getCause != null =>
            throw e.getCause
        }
      }.toMap
    } finally pool.shutdown()
  }

  /** Partition values parsed from a file's Hive-layout path, rendered as
    * min==max stats entries in the column's stat encoding. */
  private[table] def partitionValueStats(dataDir: String, file: String,
      pcols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType]): Map[String, ColStats] = {
    if (pcols.isEmpty) return Map.empty
    val rel = Paths.get(dataDir).relativize(Paths.get(file).getParent)
    val kv = (0 until rel.getNameCount).map(rel.getName(_).toString)
      .flatMap { seg =>
        seg.split("=", 2) match {
          // dirs are keyed `__gp_<col>=<value>` (see stage()); map back
          // to the real column name
          case Array(k, v) if k.startsWith("__gp_") =>
            Some(k.stripPrefix("__gp_") -> unescapePath(v))
          case Array(k, v) => Some(k -> unescapePath(v))
          case _ => None
        }
      }.toMap
    pcols.map(PartitionFields.parse).flatMap { f =>
      kv.get(f.dirKey)
        .filter(_ != "__HIVE_DEFAULT_PARTITION__") // null partition: no stats
        .flatMap { raw =>
          f match {
            // identity and truncate dir values carry the SOURCE column's
            // type (truncate of a string/int is a string/int); keyed by
            // the serialized field name — for identity that IS the
            // column (pruning applies), for transforms it is inert to
            // data-column pruning and read by KeyGroupedScan.fileKeys
            case PartitionFields.Identity(c) =>
              for {
                dt <- types.get(c)
                typ <- statType(dt)
                enc <- encodePartitionValue(typ, raw)
              } yield f.name -> ColStats(typ, enc, enc)
            case PartitionFields.Truncate(_, c) =>
              for {
                dt <- types.get(c)
                typ <- statType(dt)
                enc <- encodePartitionValue(typ, raw)
              } yield f.name -> ColStats(typ, enc, enc)
            case PartitionFields.Bucket(_, _) =>
              // the bucket id itself
              encodePartitionValue("long", raw)
                .map(enc => f.name -> ColStats("long", enc, enc))
            case PartitionFields.TimeUnit(unit, _) =>
              // days dirs carry a date ("2024-01-07" → epoch days);
              // months/years carry their since-1970 ordinal
              val typ = if (unit == "days") "date" else "long"
              encodePartitionValue(typ, raw)
                .map(enc => f.name -> ColStats(typ, enc, enc))
          }
        }
    }.toMap
  }

  private def encodePartitionValue(typ: String, raw: String): Option[String] =
    try {
      typ match {
        case "long" => Some(raw.toLong.toString)
        case "double" => Some(raw.toDouble.toString)
        case "string" => Some(raw)
        case "date" => Some(java.time.LocalDate.parse(raw).toEpochDay.toString)
        case "ts" => None // timestamp partition dirs are format-ambiguous; skip
        case _ => None
      }
    } catch { case _: RuntimeException => None }

  /** Undo Hive %XX path escaping (Spark's escapePathName). */
  private def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Union of the committed table schema and an appended frame's schema:
    * existing fields keep their position and type; new fields append.
    * Before the table's first commit it is the frame's schema. */
  private[table] def unionSchema(base: Snapshot,
      df: org.apache.spark.sql.types.StructType): String =
    if (base.version < 0) df.json
    else {
      val known = base.schema.fieldNames.toSet
      val extra = df.fields.filterNot(f => known.contains(f.name))
      if (extra.isEmpty) base.schemaJson
      else org.apache.spark.sql.types.StructType(base.schema.fields ++ extra).json
    }

  /** Ref names live in the filesystem namespace of the refs, so the
    * charset is restricted up front — and `main` is reserved so
    * `VERSION AS OF 'main'`-style strings can never shadow the table. */
  private[table] def validateRefName(name: String, location: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*")
        && !name.endsWith(".tag.json") && name != "main",
      s"invalid ref name '$name' for $location (letters, digits, '_', '-', " +
        "'.'; must not be 'main')")

  /** Create a new table at `location` with `df` as snapshot v0.
    * `properties` land in the same creating commit (vs a separate ALTER). */
  def create(spark: SparkSession, location: String, df: DataFrame,
      partitionCols: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): SnapshotTable = {
    require(!exists(location), s"table already exists at $location")
    val t = new SnapshotTable(spark, location)
    t.append(df, partitionColsIfNew = partitionCols, setProps = properties)
    t
  }

  /** Create an empty table with a declared schema (SQL CREATE TABLE). */
  def createEmpty(spark: SparkSession, location: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String] = Seq.empty): SnapshotTable = {
    require(!exists(location), s"table already exists at $location")
    val t = new SnapshotTable(spark, location)
    t.commitEmpty(schema.json, partitionCols)
    t
  }

  /** True when a table is committed at `location`: main holds at least
    * one version. The one existence test — a directory left by a first
    * commit that crashed before its publish is not a table. */
  def exists(location: String): Boolean = SnapshotLog.exists(location)

  /** The table at `location`, or None when it does not [[exists]]. */
  def find(spark: SparkSession, location: String): Option[SnapshotTable] =
    if (exists(location)) Some(new SnapshotTable(spark, location)) else None

  /** Open an existing table. */
  def load(spark: SparkSession, location: String): SnapshotTable = {
    val t = find(spark, location)
    require(t.isDefined, s"no snapshot log at $location")
    t.get
  }

  /** Open a handle WITHOUT the existence check — for internal callers
    * (clone destinations, create-if-absent sinks) and specs that grade
    * the per-operation not-yet-created guards. */
  private[table] def openUnchecked(spark: SparkSession,
      location: String): SnapshotTable = new SnapshotTable(spark, location)

  // Minimal JSON codec (Jackson via Spark's bundled jars; the snapshot
  // document is our own format, so no external schema to honor).
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
  private val mapper = new ObjectMapper()

  private[table] def renderSnapshot(s: Snapshot): String = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("version", s.version)
    root.put("timestampMs", s.timestampMs)
    root.put("schemaJson", s.schemaJson)
    root.put("operation", s.operation)
    if (s.partitionCols.nonEmpty) {
      val pc: ArrayNode = root.putArray("partitionCols")
      s.partitionCols.foreach(pc.add)
    }
    if (s.renames.nonEmpty) {
      val rn: ArrayNode = root.putArray("renames")
      s.renames.foreach { r =>
        val o = rn.addObject()
        o.put("v", r.atVersion); o.put("new", r.newName); o.put("old", r.oldName)
      }
    }
    if (s.properties.nonEmpty) {
      val pr = root.putObject("properties")
      s.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    }
    if (s.manifestRefs.nonEmpty) {
      // segmented layout: the file entries live in immutable chunk files;
      // the snapshot document carries references only (O(chunks), not
      // O(files) — see Snapshot.manifestRefs)
      val refs: ArrayNode = root.putArray("manifestRefs")
      s.manifestRefs.foreach(refs.add)
    } else {
      val arr: ArrayNode = root.putArray("files")
      s.files.foreach(f => renderFileInto(arr.addObject(), f))
    }
    if (s.deleteFiles.nonEmpty) {
      val del: ArrayNode = root.putArray("deletes")
      s.deleteFiles.foreach { d =>
        val o = del.addObject()
        o.put("path", d.path)
        o.put("rows", d.rows)
        if (d.bytes >= 0) o.put("bytes", d.bytes)
        if (d.minPath.nonEmpty) o.put("minPath", d.minPath)
        if (d.maxPath.nonEmpty) o.put("maxPath", d.maxPath)
      }
    }
    if (s.eqDeleteFiles.nonEmpty) {
      val del: ArrayNode = root.putArray("eqDeletes")
      s.eqDeleteFiles.foreach { d =>
        val o = del.addObject()
        o.put("path", d.path)
        o.put("rows", d.rows)
        if (d.bytes >= 0) o.put("bytes", d.bytes)
        val kc: ArrayNode = o.putArray("keyCols")
        d.keyCols.foreach(kc.add)
        o.put("v", d.atVersion)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def renderFileInto(o: ObjectNode, f: DataFile): Unit = {
    o.put("path", f.path)
    o.put("rows", f.rows)
    if (f.bytes >= 0) o.put("bytes", f.bytes)
    if (f.schemaVersion >= 0) o.put("sv", f.schemaVersion)
    if (f.addedAt >= 0) o.put("added", f.addedAt)
    if (f.stats.nonEmpty) {
      val st = o.putObject("stats")
      f.stats.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        val n = st.putObject(c)
        n.put("t", cs.typ); n.put("min", cs.min); n.put("max", cs.max)
      }
    }
    if (f.ndv.nonEmpty) {
      val nd = o.putObject("ndv")
      f.ndv.toSeq.sortBy(_._1).foreach { case (c, b64) => nd.put(c, b64) }
    }
  }

  private def parseFileNode(f: JsonNode): DataFile = {
    val stats =
      if (f.has("stats")) {
        val st = f.get("stats")
        st.fieldNames().asScala.map { c =>
          val cn = st.get(c)
          c -> ColStats(cn.get("t").asText(), cn.get("min").asText(),
            cn.get("max").asText())
        }.toMap
      } else Map.empty[String, ColStats]
    val ndv =
      if (f.has("ndv")) {
        val nd = f.get("ndv")
        nd.fieldNames().asScala.map(c => c -> nd.get(c).asText()).toMap
      } else Map.empty[String, String]
    DataFile(f.get("path").asText(), f.get("rows").asLong(), stats,
      if (f.has("bytes")) f.get("bytes").asLong() else -1L,
      if (f.has("sv")) f.get("sv").asInt() else -1, ndv,
      if (f.has("added")) f.get("added").asInt() else -1)
  }

  /** A manifest chunk: `{"files":[…]}`, same per-file schema as inline. */
  private[table] def renderChunk(files: Seq[DataFile]): String = {
    val root: ObjectNode = mapper.createObjectNode()
    val arr: ArrayNode = root.putArray("files")
    files.foreach(f => renderFileInto(arr.addObject(), f))
    root.toString
  }

  // Chunk files are IMMUTABLE (UUID-named, published before the snapshot
  // CAS, deleted only by GC) — parse each once per JVM. Bounded: cleared
  // wholesale when it outgrows the cap (refill is one re-read per chunk).
  private val chunkCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFile]]()
  private val ChunkCacheMax = 4096
  // miss counter (observability): a miss is an actual chunk-file read +
  // parse; repeated time-travel loads of the same table must not move it
  private[table] val chunkMisses = new java.util.concurrent.atomic.LongAdder()

  private[table] def readChunk(path: String): Seq[DataFile] = {
    if (chunkCache.size > ChunkCacheMax) chunkCache.clear()
    chunkCache.computeIfAbsent(path, p => {
      chunkMisses.increment()
      mapper.readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))
        .get("files").elements().asScala.map(parseFileNode).toSeq
    })
  }

  private[table] def parseSnapshot(json: String): Snapshot = {
    val n: JsonNode = mapper.readTree(json)
    val refs =
      if (n.has("manifestRefs"))
        n.get("manifestRefs").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    val files =
      if (refs.nonEmpty) refs.flatMap(readChunk)
      else n.get("files").elements().asScala.map(parseFileNode).toSeq
    val pcols =
      if (n.has("partitionCols"))
        n.get("partitionCols").elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    val renames =
      if (n.has("renames"))
        n.get("renames").elements().asScala.map(r =>
          Rename(r.get("v").asInt(), r.get("new").asText(), r.get("old").asText()))
          .toSeq
      else Seq.empty
    val props =
      if (n.has("properties")) {
        val pr = n.get("properties")
        pr.fieldNames().asScala.map(k => k -> pr.get(k).asText()).toMap
      } else Map.empty[String, String]
    val deletes =
      if (n.has("deletes"))
        n.get("deletes").elements().asScala.map { d =>
          DeleteFile(d.get("path").asText(), d.get("rows").asLong(),
            if (d.has("bytes")) d.get("bytes").asLong() else -1L,
            if (d.has("minPath")) d.get("minPath").asText() else "",
            if (d.has("maxPath")) d.get("maxPath").asText() else "")
        }.toSeq
      else Seq.empty
    val eqDeletes =
      if (n.has("eqDeletes"))
        n.get("eqDeletes").elements().asScala.map { d =>
          EqDeleteFile(d.get("path").asText(), d.get("rows").asLong(),
            if (d.has("bytes")) d.get("bytes").asLong() else -1L,
            d.get("keyCols").elements().asScala.map(_.asText()).toSeq,
            d.get("v").asInt())
        }.toSeq
      else Seq.empty
    Snapshot(n.get("version").asInt(), n.get("timestampMs").asLong(),
      n.get("schemaJson").asText(), files, n.get("operation").asText(), pcols,
      renames, props, deletes, eqDeletes, refs)
  }
}

package graft.table

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 table over a snapshot-log location: reads delegate to Spark's
  * parquet `FileTable` pinned to one snapshot's file list; writes go
  * through the snapshot commit protocol via the `V1Write` fallback
  * (`InsertableRelation`), so SQL `INSERT INTO` appends a snapshot and
  * `INSERT OVERWRITE` replaces the file list — both atomic, both safe
  * under concurrent writers (S11). The scan keeps the stock vectorized
  * reader/pushdown; the write keeps the log's ACID guarantees.
  */
class GraftTable(tableName: String, location: String,
    snap: SnapshotTable.Snapshot) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {

  private def spark: SparkSession = SparkSession.active

  // live files still storing pre-rename column names → reads must go
  // through the generation-mapped path; compaction clears this
  private lazy val renameMappingActive: Boolean =
    SnapshotTable.needsRenameMapping(snap)

  override def name(): String = tableName

  override def schema(): StructType = snap.schema

  override def capabilities(): util.Set[TableCapability] =
    util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    snap.partitionCols.map(PartitionFields.parse).map {
      case PartitionFields.Identity(c) => Expressions.identity(c)
      case PartitionFields.Bucket(n, c) => Expressions.bucket(n, c)
      case PartitionFields.Truncate(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
      case PartitionFields.TimeUnit("hours", c) => Expressions.hours(c)
      case PartitionFields.TimeUnit("days", c) => Expressions.days(c)
      case PartitionFields.TimeUnit("months", c) => Expressions.months(c)
      case PartitionFields.TimeUnit(_, c) => Expressions.years(c)
    }.toArray
  }

  private def innerBuilder(files: Seq[SnapshotTable.DataFile],
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // partition source columns are stored in the data files (stage()
    // writes them alongside the __gp_ directory keys), so the scan needs
    // no directory-based partition recovery
    val opts: util.Map[String, String] = util.Map.of("mergeSchema", "true")
    ParquetTable(
      s"$tableName@v${snap.version}",
      spark,
      new CaseInsensitiveStringMap(opts),
      files.map(_.path),
      Some(schema()),
      classOf[ParquetFileFormat]).newScanBuilder(options)
  }

  /** The file set a scan starts from: the pinned snapshot's files, or —
    * when the reader passed `since_version` (incremental read,
    * `spark.read.option("since_version", v).table(...)`) — only the files
    * appended after that version, with the same appends-only guard as
    * [[SnapshotTable.appendsSince]]. `option("skip_rewrites", "compact")`
    * treats pure compactions as empty deltas, exactly like the streaming
    * source (one shared algorithm, one shared option). */
  private def scanFiles(options: CaseInsensitiveStringMap): Seq[SnapshotTable.DataFile] =
    Option(options.get("since_version")) match {
      case None => snap.files
      case Some(_) =>
        SnapshotTable.load(spark, location)
          .deltaFileList(GraftTable.intOption(options, "since_version").get,
            snap.version, "incremental read", GraftTable.skipRewrites(options))
    }

  /** Scan builder with manifest-stats file skipping: pushed filters first
    * prune the snapshot's file list against per-file min/max stats
    * ([[StatsPruning]] — metadata-only, conservative), then everything
    * delegates to the stock parquet builder over the surviving files, so
    * column pruning, row-group pushdown, and the vectorized reader are
    * unchanged. Two pruning tiers, exactly like Iceberg: manifest stats
    * (here) then parquet footers (inner scan). The built scan is wrapped
    * in [[GraftRuntimeFilterScan]] (DSv2 `SupportsRuntimeV2Filtering`),
    * adding a THIRD, runtime tier: dynamic-partition-pruning IN filters
    * from a joined dimension re-prune the file list when the qualifying
    * keys only exist at execution time. Pushed state is recorded so the
    * runtime re-prune can rebuild an identically-configured scan over
    * the smaller file list.
    */
  /** Scan for a snapshot with live position-delete files (merge-on-read):
    * a DSv2 [[org.apache.spark.sql.connector.read.V1Scan]] whose relation
    * materializes the SAME plan every other read surface uses —
    * [[SnapshotTable.readSnapshotFiles]]: file-list parquet read with row
    * provenance, broadcast anti-join against the delete ledger. Pushed
    * filters stats-prune the file list and (when exactly translatable)
    * re-apply inside the relation for parquet row-group pushdown, but are
    * all reported residual so Spark's own evaluation above stays
    * authoritative. The scan loses whole-stage-vectorized reading until
    * `CALL system.compact` folds the ledger — the documented MOR read
    * tax, identical in shape to Iceberg's merge-on-read scan cost. */
  private def morV1Scan(required: StructType,
      files: Seq[SnapshotTable.DataFile],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      mkStream: () => org.apache.spark.sql.connector.read.streaming.MicroBatchStream)
      : org.apache.spark.sql.connector.read.Scan =
    new org.apache.spark.sql.connector.read.V1Scan {
      override def readSchema(): StructType = required
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](
          context: org.apache.spark.sql.SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = context
          override def schema: StructType = required
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            import org.apache.spark.sql.{functions => F}
            val t = SnapshotTable.load(spark, location)
            val base = t.readSnapshotFiles(snap, files, GraftTable.this.schema())
            // exact-translation-only filter re-push (StatsPruning's
            // catalyst→source shapes ∘ filterToColumn) — anything else is
            // evaluated by Spark above the relation, never approximated
            val pushable = filters.flatMap(StatsPruning.fromCatalyst)
              .flatMap(GraftTable.filterToColumn)
            val filtered = pushable.foldLeft(base)(_.filter(_))
            filtered.select(required.fieldNames.map(F.col).toIndexedSeq: _*).rdd
          }
        }.asInstanceOf[T]
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        mkStream()
      override def description(): String =
        s"GraftMorScan(${files.size} data files, " +
          s"${snap.deleteFiles.size} position-delete + " +
          s"${snap.eqDeleteFiles.size} equality-delete files)"
    }

  /** Scan builder for delete-bearing snapshots: stats pruning + column
    * pruning feed [[morV1Scan]]. Handles rename generations too (the
    * shared readSnapshotFiles path dispatches them), so MOR+rename
    * compose. */
  private def morScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      import org.apache.spark.sql.catalyst.expressions.Expression

      private val baseFiles = scanFiles(options)
      private var staticFiles = baseFiles
      private var filters: Seq[Expression] = Seq.empty
      private var required: StructType = schema()

      override def pushFilters(fs: Seq[Expression]): Seq[Expression] = {
        filters = fs
        staticFiles = StatsPruning.prune(baseFiles,
          fs.flatMap(StatsPruning.fromCatalyst))
        fs // all residual: Spark re-evaluates above the V1 relation
      }

      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        // streaming from a delete-bearing table stays on the appends-only
        // version-delta source: a stream's deltas are files appended after
        // its start, which by construction carry no applicable delete
        // entries (a later MOR delete in the unconsumed range fails the
        // stream at that version with the changes()-pointing error)
        val rebuild = (fs: Seq[SnapshotTable.DataFile]) => {
          val b = innerBuilder(fs, options)
          b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
            .pruneColumns(required)
          b.build()
        }
        val mkStream = () => new GraftMicroBatchStream(location,
          GraftTable.intOption(options, "stream_from_version").getOrElse(-1),
          GraftTable.intOption(options, "maxFilesPerTrigger"),
          GraftTable.skipRewrites(options),
          filters, rebuild,
          plannedVersion = snap.version)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream
        morV1Scan(required, staticFiles, filters, mkStream)
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (snap.deleteFiles.nonEmpty || snap.eqDeleteFiles.nonEmpty)
      return morScanBuilder(options)
    if (renameMappingActive) return renameAwareScanBuilder(options)
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      import org.apache.spark.sql.catalyst.expressions.Expression
      import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
      import org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder

      private val baseFiles = scanFiles(options)
      private var staticFiles = baseFiles
      private var catalystFilters: Seq[Expression] = Seq.empty
      private var requiredSchema: Option[StructType] = None
      private var aggPushed = false
      private var inner: FileScanBuilder = _
      private def mkBuilder(files: Seq[SnapshotTable.DataFile]): FileScanBuilder =
        innerBuilder(files, options).asInstanceOf[FileScanBuilder]
      private def ensureInner(files: Seq[SnapshotTable.DataFile]): Unit =
        if (inner == null) inner = mkBuilder(files)

      // footer-stats aggregate pushdown (COUNT/MIN/MAX answered from
      // parquet metadata) — delegate to the parquet builder, which sees
      // only the stats-pruned file set
      override def supportCompletePushDown(agg: Aggregation): Boolean = {
        ensureInner(staticFiles)
        inner.asInstanceOf[SupportsPushDownAggregates].supportCompletePushDown(agg)
      }

      override def pushAggregation(agg: Aggregation): Boolean = {
        ensureInner(staticFiles)
        val ok = inner.asInstanceOf[SupportsPushDownAggregates].pushAggregation(agg)
        aggPushed ||= ok
        ok
      }

      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        catalystFilters = filters
        staticFiles = StatsPruning.prune(baseFiles, filters.flatMap(StatsPruning.fromCatalyst))
        ensureInner(staticFiles)
        inner.pushFilters(filters)
      }

      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
        ensureInner(staticFiles)
        inner.pushedFilters
      }

      override def pruneColumns(requiredSchema: StructType): Unit = {
        ensureInner(staticFiles)
        this.requiredSchema = Some(requiredSchema)
        inner.pruneColumns(requiredSchema)
      }

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        ensureInner(staticFiles)
        val scan = inner.build()
        // aggregate-pushdown scans emit agg results, not table columns —
        // runtime key filters don't apply, keep the stock scan
        if (aggPushed) scan
        else {
          // Runtime-filterable attributes are the PARTITION columns only,
          // same rule as the row-level scan below: each attribute's DPP
          // value list is driver-collected, so only bounded-cardinality
          // keys qualify. Advertising every stats-bearing data column
          // (previous behavior) invites a runtime IN over a
          // high-cardinality join key — the list is then the join-key
          // domain and pruneFiles is O(files × values) on the driver.
          // Iceberg exposes partition-derived fields only, for the same
          // reason.
          val filterable = snap.partitionCols
          val rebuild = (files: Seq[SnapshotTable.DataFile]) => {
            val b = mkBuilder(files)
            if (catalystFilters.nonEmpty) b.pushFilters(catalystFilters)
            requiredSchema.foreach(b.pruneColumns)
            b.build()
          }
          // storage-partitioned join: report KeyGroupedPartitioning so
          // same-partitioned tables join with no shuffle. Composes with
          // runtime filtering — a runtime IN filter drops whole key
          // groups and re-plans the rest. Needs BOTH the standard v2
          // bucketing conf (default ON in Spark 4) and the graft opt-in:
          // key-grouped planning caps scan parallelism at one task per
          // partition VALUE, which is wrong for plain scans of huge
          // tables — Iceberg gates its SPJ behind the same kind of
          // separate preserve-data-grouping switch for this reason.
          // All three transforms are SPJ-capable: identity and bucket
          // natively (Spark special-cases bucket's width literal out of
          // the transform children), truncate via the width-baked
          // truncate_<w>(col) function name the key-grouped scan reports
          // (see KeyGroupedScan.outputPartitioning — the generic 2-arg
          // spelling keeps its literal as an expression leaf, which can
          // never satisfy a clustered distribution). Rename mappings
          // gate SPJ off until compaction normalizes generations.
          val spjCapable = !renameMappingActive
          val spj = spark.conf
            .getOption("spark.sql.sources.v2.bucketing.enabled")
            .exists(_.toBoolean) &&
            spark.conf
              .getOption("spark.sql.graft.planning.preserveDataGrouping")
              .exists(_.toBoolean) &&
            spjCapable && snap.partitionCols.nonEmpty
          val keyed =
            if (spj) KeyGroupedScan.fileKeys(staticFiles, snap.partitionCols, schema())
            else None
          // `spark.readStream.table(...)`: version-offset micro-batch
          // source over append snapshots (see GraftMicroBatchStream) —
          // shares this scan's pushed filters and pruned columns via the
          // same rebuild closure, so streaming reads get manifest
          // pruning and column pruning like batch reads
          val mkStream = () => new GraftMicroBatchStream(location,
            GraftTable.intOption(options, "stream_from_version").getOrElse(-1),
            GraftTable.intOption(options, "maxFilesPerTrigger"),
            GraftTable.skipRewrites(options),
            catalystFilters, rebuild, plannedVersion = snap.version)
          keyed match {
            case Some(keys) =>
              new GraftKeyGroupedScan(scan, snap.partitionCols, keys,
                staticFiles, filterable, rebuild) {
                override def toMicroBatchStream(checkpointLocation: String)
                    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
                  mkStream()
              }
            case None =>
              new GraftRuntimeFilterScan(scan, staticFiles, filterable, rebuild) {
                override def toMicroBatchStream(checkpointLocation: String)
                    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
                  mkStream()
              }
          }
        }
      }
    }
  }

  /** Scan builder for tables whose live files span RENAME COLUMN schema
    * generations (see [[RenameRead]]): one stock parquet scan per
    * generation, each requesting the generation's LOCAL names in the
    * declared columns' positions, unioned by partition dispatch. Filters
    * prune files via manifest stats (old-generation stats are keyed by
    * old names and conservatively survive) but are all reported back as
    * post-scan — Spark re-evaluates them above the union, trading
    * row-group pushdown on not-yet-compacted files for correctness.
    * Aggregate pushdown, runtime filtering, and SPJ stay off until
    * compaction normalizes the generations. */
  private def renameAwareScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      import org.apache.spark.sql.catalyst.expressions.Expression

      private val baseFiles = scanFiles(options)
      private var staticFiles = baseFiles
      private var required: StructType = schema()

      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        staticFiles = StatsPruning.prune(baseFiles,
          filters.flatMap(StatsPruning.fromCatalyst))
        filters // every filter re-evaluated above the generation union
      }

      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val declaredFull = schema()
        val gs = RenameRead.groups(staticFiles, declaredFull.fieldNames.toSeq,
          snap.renames)
        val scans = gs.map { case (localNames, fs) =>
          val localByDeclared = declaredFull.fieldNames.zip(localNames).toMap
          val localFull = StructType(declaredFull.fields.zip(localNames).map {
            case (f, n) => f.copy(name = n)
          })
          val localRequired = StructType(required.fields.map(f =>
            f.copy(name = localByDeclared(f.name))))
          val b = ParquetTable(
            s"$tableName@v${snap.version}",
            spark,
            new CaseInsensitiveStringMap(util.Map.of("mergeSchema", "true")),
            fs.map(_.path),
            Some(localFull),
            classOf[ParquetFileFormat]).newScanBuilder(options)
          b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
            .pruneColumns(localRequired)
          b.build()
        }
        new RenameUnionScan(scans, required)
      }
    }

  /** SQL `DELETE FROM … WHERE …`: copy-on-write — keep rows NOT matching
    * the predicate and swap the file list in one atomic, conflict-checked
    * snapshot. SQL DELETE removes only rows where the predicate is TRUE,
    * so a row where it evaluates to NULL (e.g. `c = 5` with c null) is
    * KEPT — hence `!coalesce(cond, false)` rather than `not(cond)`. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // under spark.wap.branch the delete reads AND rewrites the branch
    // chain — self-contained here (no planner scan of main involved)
    val t0 = SnapshotTable.load(spark, location)
    val t = GraftTable.wapBranch(spark).map(t0.branch).getOrElse(t0)
    val baseV = t.latestVersion
    val cond = filters.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // `write.delete.mode = merge-on-read` (Iceberg's property): record
    // position deletes instead of rewriting files — the scale path for
    // routine row-level deletes; default stays copy-on-write
    if (t.properties.get(SnapshotTable.DeleteMode)
        .exists(_.trim.equalsIgnoreCase("merge-on-read")))
      t.positionDelete(cond)
    else
      t.replace(baseV, t.readVersion(baseV).filter(not(coalesce(cond, lit(false)))),
        "delete")
  }

  /** SQL `UPDATE` / `MERGE INTO` via the DSv2 row-level operation
    * protocol, group-based copy-on-write: Spark rewrites the command into
    * a ReplaceData plan whose query computes the table's complete new
    * contents from this operation's scan (carried rows ∪ updated rows ∪
    * merge-inserted rows), and the write swaps the staged files in as one
    * conflict-checked snapshot. Data writing is delegated to Spark's own
    * parquet batch write into a staging directory — distributed,
    * executor-side, no driver materialization — then the commit renames
    * the files into `data/` and validates the base version is unchanged
    * (a concurrent commit aborts the operation rather than being lost).
    *
    * The operation scan confines the rewrite statically: pushed command
    * conditions select files via manifest stats (a skipped file provably
    * holds no matching row and survives unchanged). Partitioned tables
    * work too — partition source columns are stored in the data files,
    * so the flat replacement files stay self-describing and their
    * partition stats come from the parquet footers.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
    // The operation scan below reads files with the DECLARED schema; a
    // live pre-rename file would surface nulls for the renamed column and
    // the copy-on-write rewrite would persist them — refuse loudly.
    // UPDATE/MERGE fail here (analysis time); DELETE is allowed THROUGH
    // the builder because the optimizer's metadata-only conversion
    // (OptimizeMetadataOnlyDeleteFromTable → deleteWhere, which rewrites
    // via the rename-aware readVersion path) runs before scan pushdown —
    // a DELETE that cannot convert fails when its scan actually builds.
    def refuse(): Unit = require(!renameMappingActive,
      s"$tableName has live files written before a RENAME COLUMN; run " +
        "CALL system.compact to rewrite them under the current names " +
        "before UPDATE/MERGE/row-level DELETE")
    if (info.command() != RowLevelOperation.Command.DELETE) refuse()
    // A row-level operation's scan was planned against MAIN's head; under
    // spark.wap.branch its rewrite would have to read the branch instead —
    // refuse loudly rather than silently reading one chain and committing
    // to another. Branch writers use INSERT/DELETE/the table API. DELETE
    // gets the same deferred treatment as the rename guard: the
    // metadata-only conversion rewrites it through branch-aware
    // deleteWhere, so only a DELETE whose scan actually builds refuses.
    def refuseWap(): Unit = require(GraftTable.wapBranch(spark).isEmpty,
      if (info.command() == RowLevelOperation.Command.DELETE)
        s"DELETE FROM $tableName under spark.wap.branch supports only " +
          "predicates convertible to a metadata-only delete (no " +
          "subqueries or untranslatable filters) — simplify the " +
          "predicate, or unset spark.wap.branch and run the DELETE on main"
      else
        s"${info.command()} on $tableName does not support " +
          "spark.wap.branch — unset it or stage the change with " +
          "INSERT/DELETE on the branch")
    if (info.command() != RowLevelOperation.Command.DELETE) refuseWap()
    // works on partitioned tables too: partition source columns live in
    // the data files, so the flat replacement files are self-describing
    // and their partition-column min/max comes from the parquet footers
    () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()

      // The file set this operation's scan actually read — the groups the
      // write swaps out. Files skipped by manifest-stats selection keep
      // their place in the new snapshot untouched.
      @volatile private var scannedFiles: Option[Seq[SnapshotTable.DataFile]] = None

      // The operation's scan must surface EVERY row of the files it
      // reads: Spark pushes the command condition into this scan only so
      // a group-filtering connector can confine the rewrite, and any ROW
      // the scan drops is silently lost from the replacement. So the
      // pushed condition is used for manifest-stats FILE selection only —
      // a file is skipped iff its min/max prove no row can match, and
      // such files survive the commit unchanged — while nothing is pushed
      // to the parquet reader (pushedFilters stays empty; the condition
      // still executes in the rewrite plan). Static metadata group
      // filtering: an UPDATE with a selective predicate over a clustered
      // table rewrites a handful of files, not 100 TB.
      //
      // On PARTITIONED tables the scan additionally implements runtime
      // group filtering (SupportsRuntimeV2Filtering): Spark's
      // RowLevelOperationRuntimeGroupFiltering plans one IN-subquery per
      // filter attribute over the MATCHING rows, so a MERGE whose ON
      // condition references the source — invisible to static pruning —
      // rewrites only the partitions the source actually touches.
      // Restricted to partition columns: each attribute's value list is
      // driver-collected, so only bounded-cardinality keys qualify
      // (Iceberg bounds the same list by file count via `_file`).
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder
            with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
            with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
          import org.apache.spark.sql.catalyst.expressions.Expression

          private var files: Seq[SnapshotTable.DataFile] = snap.files
          private var requiredSchema: Option[StructType] = None
          private var inner: ScanBuilder = _
          private def mk(fs: Seq[SnapshotTable.DataFile]): ScanBuilder = {
            val b = innerBuilder(fs, options)
            requiredSchema.foreach(
              b.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
                .pruneColumns)
            b
          }
          private def ensureInner(): ScanBuilder = {
            if (inner == null) inner = mk(files)
            inner
          }

          override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
            require(inner == null, "filters pushed after scan was built")
            files = StatsPruning.prune(snap.files,
              filters.flatMap(StatsPruning.fromCatalyst))
            filters // everything stays post-scan
          }

          override def pushedFilters
              : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
            Array.empty

          override def pruneColumns(requiredSchema: StructType): Unit = {
            this.requiredSchema = Some(requiredSchema)
            ensureInner()
              .asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns]
              .pruneColumns(requiredSchema)
          }

          override def build(): org.apache.spark.sql.connector.read.Scan = {
            refuse() // a DELETE that didn't convert to metadata-only
            refuseWap() // same: group-based rewrite would read main's scan
            // a live merge-on-read ledger: this group-based operation scan
            // reads raw files and would RESURRECT position-deleted rows
            // into the copy-on-write rewrite (Spark plans it as a direct
            // batch scan, so the delete-applying V1 relation cannot stand
            // in) — refuse with the remedy rather than answer wrong.
            // Convertible DELETEs never reach here (the metadata-only
            // conversion rewrites through readVersion, which applies the
            // ledger), and merge-on-read MERGE is SnapshotTable.mergeMor.
            require(snap.deleteFiles.isEmpty && snap.eqDeleteFiles.isEmpty,
              s"$tableName has live position- or equality-delete files; " +
                "run CALL system.compact to fold them before a " +
                "copy-on-write UPDATE/MERGE/row-level DELETE (or use " +
                "merge-on-read operations end-to-end)")
            scannedFiles = Some(files)
            val scan = ensureInner().build()
            if (snap.partitionCols.isEmpty) scan
            else new GraftRuntimeFilterScan(scan, files, snap.partitionCols,
              pruned => {
                // the write swaps out exactly the groups the scan read —
                // the runtime-pruned set, not the static one
                scannedFiles = Some(pruned)
                mk(pruned).build()
              })
          }
        }

      override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write {
          override def toBatch: BatchWrite = {
            val staging = java.nio.file.Paths.get(
              location, "_staging", s"rowlevel-${java.util.UUID.randomUUID}")
            // INT64 micros timestamps, same as the snapshot staging path
            spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
            val inner = ParquetTable(
              s"$tableName-rowlevel-staging", spark,
              new CaseInsensitiveStringMap(util.Map.of("path", staging.toString)),
              Seq(staging.toString), Some(writeInfo.schema()),
              classOf[ParquetFileFormat])
              .newWriteBuilder(writeInfo).build().toBatch
            new BatchWrite {
              // ReplaceData's query prepends a __row_operation column and
              // (with no metadata projection) Spark's writing task hands
              // rows through unprojected — keep the trailing data columns
              override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
                new GraftTable.TrailingColumnsFactory(
                  inner.createBatchWriterFactory(p), writeInfo.schema())
              override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
              override def commit(messages: Array[WriterCommitMessage]): Unit = {
                inner.commit(messages) // finalize staged parquet files
                SnapshotTable.load(spark, location).replaceWithStagedDir(
                  snap.version, staging, info.command.toString.toLowerCase,
                  scannedFiles.map(_.map(_.path).toSet))
                graft.Tables.deleteRecursively(staging.toString)
              }
              override def abort(messages: Array[WriterCommitMessage]): Unit = {
                inner.abort(messages)
                graft.Tables.deleteRecursively(staging.toString)
              }
            }
          }
        }
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      // INSERT OVERWRITE … PARTITION(day=…) / df.writeTo.overwrite(cond):
      // replace only the rows matching the filter, carry the rest
      private var overwriteCond: Option[org.apache.spark.sql.Column] = None
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        require(filters.forall(f => GraftTable.filterToColumn(f).isDefined),
          s"unsupported overwrite filter: ${filters.mkString(", ")}")
        val nonTrivial = filters
          .filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
        val cond = nonTrivial.flatMap(GraftTable.filterToColumn)
          .reduceOption(_ && _)
        if (cond.isEmpty) overwrite = true else overwriteCond = cond
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, legacyOverwrite: Boolean): Unit = {
              // write-audit-publish: with spark.wap.branch set, every
              // batch write lands on that branch's chain (Iceberg's WAP
              // conf) — main readers see nothing until fast_forward
              val t0 = SnapshotTable.load(data.sparkSession, location)
              val t = GraftTable.wapBranch(data.sparkSession)
                .map(t0.branch).getOrElse(t0)
              if (overwrite || legacyOverwrite) t.overwrite(data)
              else overwriteCond match {
                case Some(cond) => t.replaceWhere(cond, data)
                case None => t.append(data)
              }
            }
          }
        // `df.writeStream.toTable(...)`: exactly-once epoch-committed
        // appends, idempotent across restarts (see GraftStreamingWrite).
        // Complete mode rides the builder's truncate() flag: each epoch
        // then swaps the whole file list instead of appending.
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          // exactly-once epoch tracking is keyed to the MAIN chain; a
          // branch-routed stream would need per-ref epoch state — refuse
          // rather than silently ignoring the WAP conf
          require(GraftTable.wapBranch(SparkSession.active).isEmpty,
            s"streaming writes to $tableName do not support spark.wap.branch")
          new GraftStreamingWrite(location, info.schema(), info.queryId(),
            truncate = overwrite)
        }
      }
    }
}

object GraftTable {
  import org.apache.spark.sql.{Column, functions => F}
  import org.apache.spark.sql.sources._

  /** The write-audit-publish branch this session's writes should land on
    * (Iceberg's `spark.wap.branch` conf), if set and non-empty. */
  private[table] def wapBranch(s: SparkSession): Option[String] =
    s.conf.getOption("spark.wap.branch").map(_.trim).filter(_.nonEmpty)

  /** Integer reader option with the option NAME in the failure — a typo
    * like `maxFilesPerTrigger=2k` should say which option was bad, not
    * surface a bare NumberFormatException at stream construction. */
  private[table] def intOption(options: CaseInsensitiveStringMap,
      name: String): Option[Int] =
    Option(options.get(name)).map { v =>
      try v.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option $name must be an integer, got '$v'")
      }
    }

  /** `option("skip_rewrites", "compact")`: rewrite operations the
    * streaming source may treat as row-multiset-preserving and skip.
    * Only `compact` qualifies — overwrite/delete/update/merge change the
    * multiset and may never be skipped, so anything else is rejected at
    * stream construction rather than silently dropping data. */
  private[table] def skipRewrites(options: CaseInsensitiveStringMap): Set[String] = {
    val ops = Option(options.get("skip_rewrites")).toSeq
      .flatMap(_.split(',')).map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
    val bad = ops -- Set("compact")
    require(bad.isEmpty,
      s"option skip_rewrites supports only 'compact' (the one rewrite that " +
        s"preserves the row multiset); got: ${bad.mkString(", ")}")
    ops
  }

  /** Writer factory projecting each incoming row to its LAST
    * `schema.length` fields before delegating: the row-level ReplaceData
    * query prepends bookkeeping columns (`__row_operation`) that a
    * replace-contents write must not persist. Codegen'd UnsafeProjection,
    * built once per writer. */
  private class TrailingColumnsFactory(
      inner: org.apache.spark.sql.connector.write.DataWriterFactory,
      schema: StructType)
      extends org.apache.spark.sql.connector.write.DataWriterFactory {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.connector.write.DataWriter

    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
      val w = inner.createWriter(partitionId, taskId)
      new DataWriter[InternalRow] {
        private var proj: UnsafeProjection = _
        override def write(row: InternalRow): Unit = {
          if (proj == null) {
            val offset = row.numFields - schema.length
            require(offset >= 0,
              s"row-level write rows have ${row.numFields} fields, table has ${schema.length}")
            proj = UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
              case (f, i) =>
                BoundReference(i + offset, f.dataType, f.nullable)
            })
          }
          w.write(proj(row))
        }
        override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = w.commit()
        override def abort(): Unit = w.abort()
        override def close(): Unit = w.close()
      }
    }
  }

  /** Source filter → Column condition for the delete path; None marks an
    * unsupported shape (canDeleteWhere then refuses, Spark reports the
    * delete as unsupported instead of deleting the wrong rows). */
  private[table] def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(F.col(c) === F.lit(v))
    case EqualNullSafe(c, v) => Some(F.col(c) <=> F.lit(v))
    case GreaterThan(c, v) => Some(F.col(c) > F.lit(v))
    case GreaterThanOrEqual(c, v) => Some(F.col(c) >= F.lit(v))
    case LessThan(c, v) => Some(F.col(c) < F.lit(v))
    case LessThanOrEqual(c, v) => Some(F.col(c) <= F.lit(v))
    case In(c, vs) => Some(F.col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(F.col(c).isNull)
    case IsNotNull(c) => Some(F.col(c).isNotNull)
    case Not(child) => filterToColumn(child).map(!_)
    case And(l, r) =>
      for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- filterToColumn(l); b <- filterToColumn(r) } yield a || b
    case StringStartsWith(c, v) => Some(F.col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(F.col(c).endsWith(v))
    case StringContains(c, v) => Some(F.col(c).contains(v))
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }
}

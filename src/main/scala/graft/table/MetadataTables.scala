package graft.table

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Iceberg-style SQL metadata tables: `SELECT * FROM cat.db.t.history`
  * (also `.snapshots`, `.files`, `.partitions`) inspects the snapshot log
  * through plain SQL — the introspection surface the reference demos
  * against Iceberg metadata
  * (`aws-community-builders-presentation.md:229-320`).
  *
  * Snapshot logs are small (O(versions), O(files)), so the rows are
  * materialized driver-side behind a DSv2 [[LocalScan]] — no job, no
  * shuffle; predicates/projections apply above it like any local
  * relation.
  */
object MetadataTables {

  val historySchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    // null when any file lacks recorded row counts (legacy manifests):
    // an unknown must read as unknown, not as a silent undercount
    StructField("n_rows", LongType, nullable = true)))

  val filesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("stats_json", StringType, nullable = false),
    // per-column NDV estimates from the file's HLL sketches as JSON
    // ({} when the table never opted into write.ndv-sketch.columns)
    StructField("ndv_json", StringType, nullable = false)))

  val partitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    // null when any grouped file lacks recorded row/byte stats — see
    // historySchema.n_rows
    StructField("n_rows", LongType, nullable = true),
    StructField("size_bytes", LongType, nullable = true)))

  val refsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    // branch → its head version; tag → the pinned version
    StructField("version", IntegerType, nullable = false)))

  val deletesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    // number of (file_path, pos) entries in the delete file
    StructField("entry_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    // the file_path range the entries cover (reader/changelog scoping)
    StructField("min_path", StringType, nullable = true),
    StructField("max_path", StringType, nullable = true)))

  val manifestsSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("entry_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    // sum of the chunk's recorded data-file bytes (null when any entry
    // predates byte recording — same unknown rule as partitions)
    StructField("data_bytes", LongType, nullable = true)))

  val eqDeletesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    // number of distinct key tuples in the equality-delete file
    StructField("entry_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("key_columns", StringType, nullable = false),
    // rows of files added BEFORE this version are subject to the delete
    StructField("at_version", IntegerType, nullable = false)))

  /** Sum that propagates UNKNOWN: any negative (unrecorded) entry makes
    * the rollup null rather than silently undercounting. */
  private def sumOrNull(xs: Seq[Long]): Any =
    if (xs.exists(_ < 0)) null else xs.sum

  /** Build the metadata table named `kind` over `t`, if `kind` is one of
    * the supported suffixes. */
  def forKind(name: String, t: SnapshotTable, kind: String): Option[Table] =
    kind match {
      case "history" | "snapshots" =>
        val rows = t.versions.map { v =>
          val s = t.snapshot(v)
          InternalRow(s.version, s.timestampMs * 1000L,
            org.apache.spark.unsafe.types.UTF8String.fromString(s.operation),
            s.files.size.toLong, sumOrNull(s.files.map(_.rows)))
        }
        Some(new MetadataTable(s"$name.$kind", historySchema, rows))
      case "files" =>
        // string min/max are raw data values (up to 256 chars) — quotes and
        // backslashes are legal in them, so the JSON is built through the
        // mapper rather than interpolation
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val snap = t.head
        val rows = snap.files.map { f =>
          val root = mapper.createObjectNode()
          f.stats.toSeq.sortBy(_._1).foreach { case (c, s) =>
            val o = root.putObject(c)
            o.put("type", s.typ); o.put("min", s.min); o.put("max", s.max)
          }
          val stats = mapper.writeValueAsString(root)
          val ndvRoot = mapper.createObjectNode()
          f.ndv.toSeq.sortBy(_._1).foreach { case (c, b64) =>
            ndvRoot.put(c, math.round(
              org.apache.datasketches.hll.HllSketch.heapify(
                java.util.Base64.getDecoder.decode(b64)).getEstimate))
          }
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(f.path),
            f.rows, f.bytes,
            org.apache.spark.unsafe.types.UTF8String.fromString(stats),
            org.apache.spark.unsafe.types.UTF8String.fromString(
              mapper.writeValueAsString(ndvRoot)))
        }
        Some(new MetadataTable(s"$name.files", filesSchema, rows))
      case "partitions" =>
        // per-partition file/row/byte rollup (Iceberg's `t.partitions`,
        // the small-files diagnosis surface): group the live file list by
        // its partition-field values from the manifest stats; files whose
        // value cannot be keyed (flat rewrite files spanning partitions)
        // roll up under the sentinel below — visible, not miscounted.
        // An UNPARTITIONED table still answers with a single whole-table
        // rollup row (Iceberg's shape), so storage tooling needn't
        // special-case it.
        val snap = t.head
        val fields = snap.partitionCols.map(PartitionFields.parse)
        val rows = snap.files
          .groupBy { f =>
            if (fields.isEmpty) "<unpartitioned>"
            else fields.map { fd =>
              f.stats.get(fd.name) match {
                case Some(s) if s.min == s.max => s"${fd.name}=${s.min}"
                case _ => s"${fd.name}=<multiple>"
              }
            }.mkString("/")
          }
          .toSeq.sortBy(_._1)
          .map { case (part, fs) =>
            InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(part),
              fs.size.toLong,
              sumOrNull(fs.map(_.rows)),
              sumOrNull(fs.map(_.bytes)))
          }
        val out =
          if (rows.nonEmpty) rows
          else Seq(InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              if (fields.isEmpty) "<unpartitioned>" else "<empty>"),
            0L, 0L, 0L))
        Some(new MetadataTable(s"$name.partitions", partitionsSchema, out))
      case "changes" =>
        // `spark.read.option("since_version", v).option("end_version", w)
        //   .table("cat.db.t.changes")` (or plain SQL for full history):
        // the CDC changelog as a relation — data-sized, so unlike the
        // other metadata tables it materializes NOTHING on the driver:
        // a V1Scan relation plans [[SnapshotTable.changes]]'s own
        // distributed DataFrame (per-version changed-file scans +
        // scoped semi-joins) when the query executes
        val dataSchema = t.head.schema
        val cdcSchema = StructType(dataSchema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", IntegerType, nullable = false),
          StructField("_commit_timestamp", TimestampType, nullable = false)))
        Some(new ChangesTable(s"$name.changes", cdcSchema, t))
      case "deletes" =>
        // `SELECT * FROM cat.db.t.deletes` — the live merge-on-read
        // position-delete ledger (empty once compaction folds it)
        import org.apache.spark.unsafe.types.UTF8String
        val rows = t.head.deleteFiles.map { d =>
          InternalRow(UTF8String.fromString(d.path), d.rows, d.bytes,
            if (d.minPath.isEmpty) null else UTF8String.fromString(d.minPath),
            if (d.maxPath.isEmpty) null else UTF8String.fromString(d.maxPath))
        }
        Some(new MetadataTable(s"$name.deletes", deletesSchema, rows))
      case "eq_deletes" =>
        // `SELECT * FROM cat.db.t.eq_deletes` — the live equality-delete
        // ledger (empty once compaction folds it)
        import org.apache.spark.unsafe.types.UTF8String
        val rows = t.head.eqDeleteFiles.map { d =>
          InternalRow(UTF8String.fromString(d.path), d.rows, d.bytes,
            UTF8String.fromString(d.keyCols.mkString(",")), d.atVersion)
        }
        Some(new MetadataTable(s"$name.eq_deletes", eqDeletesSchema, rows))
      case "manifests" =>
        // `SELECT * FROM cat.db.t.manifests` — the segmented-manifest
        // chunk layer (X120): one row per chunk ref of the current
        // snapshot; empty for inline (small-table) snapshots
        import org.apache.spark.unsafe.types.UTF8String
        val rows = t.head.manifestRefs.map { r =>
          val entries = SnapshotTable.readChunk(r)
          val size =
            try java.nio.file.Files.size(java.nio.file.Paths.get(r))
            catch { case _: java.io.IOException => -1L }
          InternalRow(UTF8String.fromString(r), entries.size.toLong, size,
            sumOrNull(entries.map(_.bytes)))
        }
        Some(new MetadataTable(s"$name.manifests", manifestsSchema, rows))
      case "refs" =>
        // `SELECT * FROM cat.db.t.refs` — branches and tags (Iceberg's
        // `t.refs` shape), sorted by name for deterministic output
        val rows = t.refs.toSeq.sortBy(_._1).map { case (n, (typ, v)) =>
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(n),
            org.apache.spark.unsafe.types.UTF8String.fromString(typ), v)
        }
        Some(new MetadataTable(s"$name.refs", refsSchema, rows))
      case _ => None
    }

  private class MetadataTable(tableName: String, tableSchema: StructType,
      rowData: Seq[InternalRow]) extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.Set.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan {
        override def rows(): Array[InternalRow] = rowData.toArray
        override def readSchema(): StructType = tableSchema
      }
  }

  /** The `t.changes` relation: a V1Scan whose RDD is the distributed
    * changelog plan. `since_version` defaults to -1 (full history),
    * `end_version` to the head. */
  private class ChangesTable(tableName: String, cdcSchema: StructType,
      t: SnapshotTable) extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = cdcSchema
    override def capabilities(): util.Set[TableCapability] =
      util.Set.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      def intOpt(k: String, dflt: Int): Int =
        Option(options.get(k)).map { v =>
          try v.trim.toInt
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"option $k must be an integer, got '$v'")
          }
        }.getOrElse(dflt)
      val since = intOpt("since_version", -1)
      val end = intOpt("end_version", -1)
      () => new org.apache.spark.sql.connector.read.V1Scan {
        override def readSchema(): StructType = cdcSchema
        override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          new org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = cdcSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              t.changes(since, end).rdd
          }.asInstanceOf[T]
        override def description(): String = s"GraftChangesScan(v$since..)"
      }
    }
  }
}

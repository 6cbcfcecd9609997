package graft.table

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 catalog over [[SnapshotTable]] locations, giving the
  * snapshot log a SQL surface — including the reference's time-travel
  * syntax (T4, `performance_comparison.sql:129-131`):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
  *   spark.sql("SELECT count(*) FROM graft.db.events VERSION AS OF 0")
  *   spark.sql("SELECT count(*) FROM graft.db.events TIMESTAMP AS OF '…'")
  * }}}
  *
  * A table named `graft.ns….name` resolves to the snapshot-log directory
  * `<warehouse>/ns…/name`. Reads delegate to Spark's own parquet DSv2
  * `FileTable` over the pinned snapshot's file list, so scans get the
  * stock vectorized reader, pushdown, and codegen for free; the catalog
  * only decides WHICH files a given version/timestamp sees — exactly the
  * Iceberg metadata/data split. Writes go through the programmatic
  * [[SnapshotTable]] API (the commit protocol owns atomicity; SQL DML is
  * out of scope this milestone).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with ViewCatalog {

  // ------------------------------------------------------------ views
  // Persisted catalog views (Spark 4 ViewCatalog — the Snowflake
  // CREATE VIEW surface): each view is one JSON document under
  // `<warehouse>/<ns…>/_views/<name>.json` holding the defining SQL, the
  // capture context (catalog + namespace the SQL resolves under), the
  // analyzed schema, and properties. Resolution happens in Spark's
  // analyzer via loadView — the view body replans against the CURRENT
  // table state on every read, so a view over a graft table tracks
  // appends/compactions like any warehouse view.

  // lowercase on disk: Spark SQL identifiers are case-insensitive, so
  // `graft.DB.V_Daily` and `graft.db.v_daily` must address the SAME view
  // document on every filesystem — NAMESPACE segments included (a
  // case-sensitive store would otherwise keep two divergent `_views`
  // dirs for the same logical namespace on Linux)
  private def viewsDir(namespace: Array[String]): java.nio.file.Path =
    java.nio.file.Paths.get(
      (warehouse +: namespace.toSeq
        .map(_.toLowerCase(java.util.Locale.ROOT))).mkString("/"), "_views")
  private def viewFile(ident: Identifier): java.nio.file.Path =
    viewsDir(ident.namespace()).resolve(
      s"${ident.name().toLowerCase(java.util.Locale.ROOT)}.json")

  private val viewMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = viewsDir(namespace.toArray)
    if (!java.nio.file.Files.isDirectory(dir)) Array.empty
    else {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(dir)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .map(p => Identifier.of(namespace.toArray,
          p.getFileName.toString.stripSuffix(".json")))
        .toArray
      finally listing.close()
    }
  }

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.exists(viewFile(ident))

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!java.nio.file.Files.exists(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val root = viewMapper.readTree(java.nio.file.Files.readString(f))
    def arr(field: String): Array[String] = {
      val n = root.get(field)
      (0 until n.size()).map(n.get(_).asText()).toArray
    }
    import scala.jdk.CollectionConverters._
    val props = root.get("properties").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    new View {
      override def name(): String =
        (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString(".")
      override def query(): String = root.get("sql").asText()
      override def currentCatalog(): String = root.get("currentCatalog").asText()
      override def currentNamespace(): Array[String] = arr("currentNamespace")
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType
          .fromJson(root.get("schemaJson").asText()).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = arr("queryColumnNames")
      override def columnAliases(): Array[String] = arr("columnAliases")
      override def columnComments(): Array[String] = arr("columnComments")
      override def properties(): java.util.Map[String, String] = {
        val m = new java.util.HashMap[String, String]()
        props.foreach { case (k, v) => m.put(k, v) }
        m
      }
    }
  }

  private def writeView(info: ViewInfo, replace: Boolean): View = {
    // a view shadow-named after an existing TABLE would be dead on read —
    // table resolution wins before GraftViewRule fires — so refuse the
    // write instead of persisting an unreachable document
    if (tableExists(info.ident))
      throw new IllegalArgumentException(
        s"create_view: ${(catalogName +: info.ident.namespace().toSeq :+
          info.ident.name()).mkString(".")} already names a TABLE — a " +
          "view by the same name would never resolve (table wins)")
    val f = viewFile(info.ident)
    if (!replace && java.nio.file.Files.exists(f))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident)
    java.nio.file.Files.createDirectories(f.getParent)
    val root = viewMapper.createObjectNode()
    root.put("sql", info.sql)
    root.put("currentCatalog", info.currentCatalog)
    root.put("schemaJson", info.schema.json)
    def putArr(field: String, vs: Array[String]): Unit = {
      val a = root.putArray(field)
      vs.foreach(a.add)
    }
    putArr("currentNamespace", info.currentNamespace)
    putArr("queryColumnNames", info.queryColumnNames)
    putArr("columnAliases", info.columnAliases)
    putArr("columnComments", info.columnComments)
    val p = root.putObject("properties")
    info.properties.forEach((k, v) => { p.put(k, v); () })
    // write-temp-then-atomic-move: a concurrent loadView must never see a
    // half-written document (plain truncate-and-write would expose one)
    val tmp = f.resolveSibling(s".${f.getFileName}.tmp-${
      java.util.UUID.randomUUID.toString.take(8)}")
    java.nio.file.Files.writeString(tmp, viewMapper.writeValueAsString(root))
    java.nio.file.Files.move(tmp, f,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    loadView(info.ident)
  }

  override def createView(info: ViewInfo): View = writeView(info, replace = false)

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident)
    writeView(info, replace = true)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    val props = new java.util.HashMap[String, String](v.properties())
    changes.foreach {
      case s: ViewChange.SetProperty => props.put(s.property(), s.value())
      case r: ViewChange.RemoveProperty => props.remove(r.property())
      case other => throw new IllegalArgumentException(
        s"unsupported view change: $other")
    }
    writeView(new ViewInfo(ident, v.query(), v.currentCatalog(),
      v.currentNamespace(), v.schema(), v.queryColumnNames(),
      v.columnAliases(), v.columnComments(), props), replace = true)
  }

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(viewFile(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    java.nio.file.Files.createDirectories(viewFile(to).getParent)
    java.nio.file.Files.move(viewFile(from), viewFile(to))
  }

  /** The `bucket` transform function (see [[BucketFunction]]): Spark
    * resolves scan-reported bucket transforms through the table's catalog
    * to validate SPJ compatibility (and to evaluate them when shuffling
    * one join side to the other's bucketing); without this, a
    * key-grouped bucket partitioning would be silently discarded. */
  private val WidthTrunc = """truncate_(\d{1,9})""".r

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket") BucketFunction
    else if (ident.namespace().isEmpty && ident.name() == "truncate") TruncateFunction
    else ident.name() match {
      // the SPJ-eligible width-baked spelling the key-grouped scan
      // reports (see WidthTruncateFunction)
      case WidthTrunc(w) if ident.namespace().isEmpty =>
        new WidthTruncateFunction(w.toInt)
      case u @ ("hours" | "days" | "months" | "years") if ident.namespace().isEmpty =>
        new TimeUnitFunction(u)
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }

  // truncate_<w> is an infinite width-indexed family resolved on demand;
  // the listing shows the enumerable functions
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array("bucket", "truncate", "hours", "days", "months", "years")
        .map(Identifier.of(Array.empty, _))
    else Array.empty

  /** `CALL graft.system.compact/expire_snapshots/rollback(…)` — the
    * Iceberg-style SQL maintenance surface (see [[Procedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    Procedures.load(warehouse, ident.name(), this)
      .filter(_ => ident.namespace().sameElements(Array("system")))
      .getOrElse(throw new RuntimeException(
        s"unknown procedure: ${ident.namespace().mkString(".")}.${ident.name()}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Procedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(graft.Tables.scratch("warehouse/graft-catalog"))
  }

  override def name(): String = catalogName

  private def location(ident: Identifier): String =
    (Seq(warehouse) ++ ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def spark: SparkSession = SparkSession.active

  private def open(ident: Identifier): SnapshotTable =
    SnapshotTable.find(spark, location(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident))

  private def parquetTable(ident: Identifier, snap: SnapshotTable.Snapshot): Table =
    new GraftTable(
      s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}",
      location(ident), snap)

  override def loadTable(ident: Identifier): Table = {
    // `cat.db.t.history` parses as Identifier([db, t], history): when the
    // name is a metadata suffix and [db, t] is a real table, serve the
    // snapshot-log metadata relation (MetadataTables)
    if (ident.namespace().length >= 2) {
      val parent = Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last)
      val meta = SnapshotTable.find(spark, location(parent)).flatMap(t =>
        MetadataTables.forKind(
          s"$catalogName.${parent.namespace().mkString(".")}.${parent.name()}",
          t, ident.name()))
      if (meta.isDefined) return meta.get
    }
    parquetTable(ident, open(ident).head)
  }

  /** `VERSION AS OF v` — a numeric string pins that snapshot version; any
    * other string is a REF name (branch → its head, tag → its pinned
    * version), so `SELECT … FROM t VERSION AS OF 'audit'` reads a branch
    * without new syntax (Iceberg reads branches the same way). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = open(ident)
    val snap = version.trim match {
      case v if v.matches("-?\\d+") => t.snapshot(v.toInt)
      case name => t.resolveRef(name)
    }
    parquetTable(ident, snap)
  }

  /** `TIMESTAMP AS OF ts` — Spark passes microseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    parquetTable(ident, open(ident).snapshotAsOf(timestamp / 1000L).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new java.io.File((Seq(warehouse) ++ namespace).mkString("/"))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => SnapshotTable.exists(f.getPath))
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    SnapshotTable.exists(location(ident))

  /** `CREATE TABLE … PARTITIONED BY (col, …)` — identity transforms (the
    * reference's fact table is day-partitioned by definition, reference
    * `main.tf:139-151`), `bucket(n, col)` hash transforms (the layout
    * that makes storage-partitioned joins possible on high-cardinality
    * keys), `truncate(w, col)` range transforms (prefix-clustered,
    * stats-prunable layout), and `days/months/years(ts)` time transforms
    * (Iceberg's fact-table idiom: partition directly on the timestamp,
    * no materialized day column). Data lands in a Hive `col=value/` (or
    * `bN_col=id/` / `tW_col=prefix/` / `d_col=date/`) layout and
    * partition values feed the manifest stats pruner / SPJ key
    * grouping. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val pcols = partitions.toSeq.map { t =>
      val refs = t.references()
      val singleCol = refs.length == 1 && refs(0).fieldNames().length == 1
      def width(kind: String): Int = {
        val num = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] => l.value().asInstanceOf[Number]
        }.getOrElse(throw new UnsupportedOperationException(
          s"$kind transform needs a literal width: $t"))
        // exact int only: Number.intValue() would silently WRAP a long
        // (truncate(2^32+1, c) becoming truncate(1, c)) or floor a
        // fraction into a wrong table layout
        val asLong = num.longValue()
        require(num.doubleValue() == asLong.toDouble &&
            asLong > 0 && asLong <= Int.MaxValue,
          s"$kind width must be a positive INT, got $num")
        asLong.toInt
      }
      t.name() match {
        case "identity" if singleCol => refs(0).fieldNames()(0)
        case "bucket" if singleCol =>
          PartitionFields.Bucket(width("bucket"), refs(0).fieldNames()(0)).name
        case "truncate" if singleCol =>
          PartitionFields.Truncate(width("truncate"), refs(0).fieldNames()(0)).name
        case u @ ("hours" | "days" | "months" | "years") if singleCol =>
          PartitionFields.TimeUnit(u, refs(0).fieldNames()(0)).name
        case _ => throw new UnsupportedOperationException(
          s"only identity, bucket, truncate, and hours/days/months/years " +
            s"partition transforms are supported, got: $t")
      }
    }
    pcols.map(PartitionFields.parse).foreach { f =>
      val field = schema.fields.find(_.name == f.source).getOrElse(
        throw new IllegalArgumentException(
          s"partition column ${f.source} not in schema"))
      f match {
        case PartitionFields.Identity(_) => ()
        case PartitionFields.TimeUnit(u, _) =>
          require(PartitionFields.timeSourceType(field.dataType),
            s"${f.name}: source must be timestamp/date, got ${field.dataType.simpleString}")
          require(u != "hours" ||
              field.dataType != org.apache.spark.sql.types.DateType,
            s"${f.name}: hours of a DATE is degenerate — use days instead")
        case _ => require(PartitionFields.bucketableType(field.dataType),
          s"${f.name}: source must be int/bigint/string, got ${field.dataType.simpleString}")
      }
    }
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val t = SnapshotTable.openUnchecked(spark, location(ident))
    parquetTable(ident, t.snapshot(t.commitEmpty(schema.json, pcols)))
  }

  /** `ALTER TABLE … ADD COLUMN(S) / RENAME COLUMN / DROP COLUMN(S)`
    * (reference demos the ADD shape,
    * `aws-community-builders-presentation.md:124-128`): each commits a
    * schema-only snapshot over the unchanged file list. ADD: old rows
    * read null (additive evolution, T8). RENAME: metadata-only via the
    * snapshot rename log — old files keep their physical column name and
    * reads resolve it per file generation ([[SnapshotTable.renameColumn]]).
    * DROP: the column leaves the declared schema; its bytes stay for time
    * travel. ADD refuses names any earlier generation used (an old file
    * could still store values under it — resurrection guard). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import org.apache.spark.sql.types._
    val t = open(ident)
    // fold EVERY change into one schema + rename batch, validating as we
    // go, and commit ONCE at the end: a multi-change ALTER (e.g. ADD
    // COLUMNS (x, y) where y is invalid) either fully applies or commits
    // nothing — never a half-altered table
    val base = t.head // every guard below reads this snapshot
    val psrc = base.partitionCols.map(PartitionFields.parse).map(_.source)
    val historical = t.historicalNames
    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"nested column $what not supported: ${fieldNames.mkString(".")}")
      fieldNames(0)
    }
    var schema = base.schema
    var renamed = Seq.empty[(String, String)]
    var propSet = Map.empty[String, String]
    var propUnset = Set.empty[String]
    changes.foreach {
      case sp: TableChange.SetProperty =>
        SnapshotTable.checkProperties(Map(sp.property() -> sp.value()), schema)
        propSet += sp.property() -> sp.value()
      case rp: TableChange.RemoveProperty =>
        propUnset += rp.property()
      case add: TableChange.AddColumn =>
        val name = single(add.fieldNames(), "add")
        require(!schema.fieldNames.contains(name), s"column $name already exists")
        require(!historical.contains(name),
          s"cannot add column $name: a previous schema generation used that " +
            "name and old data files may still store values under it")
        schema = schema.add(name, add.dataType(), nullable = true)
      case rn: TableChange.RenameColumn =>
        val oldName = single(rn.fieldNames(), "rename")
        val newName = rn.newName()
        t.checkRename(base, schema, historical, oldName, newName)
        schema = StructType(schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
        renamed :+= (newName -> oldName)
      case del: TableChange.DeleteColumn =>
        val name = single(del.fieldNames(), "drop")
        t.checkDrop(base, schema, name)
        schema = StructType(schema.fields.filterNot(_.name == name))
      case upd: TableChange.UpdateColumnType =>
        val name = single(upd.fieldNames(), "type change")
        val field = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no such column: $name"))
        val to = upd.newDataType()
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
        require(!psrc.contains(name),
          s"cannot change the type of partition source column $name")
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f))
      case other => throw new UnsupportedOperationException(
        s"unsupported table change: $other")
    }
    parquetTable(ident, t.snapshot(
      t.commitEvolution(schema.json, renamed, propSet, propUnset, base.version)))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val exists = tableExists(ident)
    if (exists) graft.Tables.deleteRecursively(location(ident))
    exists
  }

  /** ALTER TABLE … RENAME TO: move the table directory, then rewrite the
    * absolute paths in every metadata document — main's and each branch's
    * versions and the manifest chunks — to the new prefix (metadata-only
    * — no data is copied; the dir move is one filesystem rename). */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    import java.nio.file.{Files, Paths}
    val from = location(oldIdent)
    val to = location(newIdent)
    if (!tableExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(oldIdent)
    require(!Files.exists(Paths.get(to)), s"rename target exists: $to")
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to))
    SnapshotLog.rewritePaths(to, s"$from/", s"$to/")
  }

  // ------------------------------------------------- SupportsNamespaces
  override def listNamespaces(): Array[Array[String]] = {
    val dir = new java.io.File(warehouse)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !SnapshotTable.exists(f.getPath))
      .map(f => Array(f.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!new java.io.File((Seq(warehouse) ++ namespace).mkString("/")).isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(namespace)
    util.Map.of()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get((Seq(warehouse) ++ namespace).mkString("/")))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is immutable")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = (Seq(warehouse) ++ namespace).mkString("/")
    val exists = new java.io.File(p).isDirectory
    if (exists && cascade) graft.Tables.deleteRecursively(p)
    exists
  }
}

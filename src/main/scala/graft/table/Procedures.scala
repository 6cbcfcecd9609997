package graft.table

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance procedures — the Iceberg `CALL catalog.system.…` UX
  * for the snapshot-table maintenance jobs (reference T6/T7,
  * `aws-community-builders-presentation.md:229-320`):
  *
  *   CALL graft.system.compact(table => 'db.t', target_bytes => …, zorder_by => 'a,b')
  *   CALL graft.system.expire_snapshots(table => 'db.t', keep_last => 3)
  *   CALL graft.system.rollback(table => 'db.t', version => 2)
  *   CALL graft.system.remove_orphans(table => 'db.t', grace_ms => 0)
  *
  * Each returns a one-row result relation (driver-local LocalScan).
  */
object Procedures {

  private def spark: SparkSession = SparkSession.active

  private def resultScan(schema: StructType, row: InternalRow): util.Iterator[Scan] =
    util.List.of[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }).iterator()

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def paramWithDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** `table` arg ("db.t") → loaded SnapshotTable via the catalog's
    * warehouse layout. */
  private def open(warehouse: String, table: String): SnapshotTable = {
    val loc = (warehouse +: table.split('.').toSeq).mkString("/")
    SnapshotTable.load(spark, loc)
  }

  abstract class GraftProcedure(procName: String) extends UnboundProcedure
      with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  final class Compact(warehouse: String) extends GraftProcedure("compact") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("target_bytes", LongType, (256L * 1024 * 1024).toString),
      paramWithDefault("zorder_by", StringType, "''"))
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType), StructField("n_files", LongType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val zorder = Option(input.getUTF8String(2)).map(_.toString).getOrElse("")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val v = t.compact(targetBytes = input.getLong(1), zorderBy = zorder)
      resultScan(outSchema,
        InternalRow(v, t.snapshot(v).files.size.toLong))
    }
  }

  /** `CALL cat.system.fold_eq_deletes(table => 'db.t')` — fold the live
    * equality-delete ledger into the data (rewrites only stats-affected
    * files) and clear it; the manual spelling of the
    * [[SnapshotTable.MaxEqDeleteFiles]] auto-fold policy. */
  final class FoldEqDeletes(warehouse: String)
      extends GraftProcedure("fold_eq_deletes") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType))
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType),
      StructField("eq_delete_files", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val v = t.foldEqDeletes()
      val live =
        if (v >= 0) t.snapshot(v).eqDeleteFiles.size
        else t.head.eqDeleteFiles.size
      resultScan(outSchema, InternalRow(v, live))
    }
  }

  final class ExpireSnapshots(warehouse: String)
      extends GraftProcedure("expire_snapshots") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("keep_last", IntegerType, "1"))
    private val outSchema = StructType(Seq(
      StructField("kept_versions", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      t.expireSnapshots(input.getInt(1))
      resultScan(outSchema, InternalRow(t.versions.size))
    }
  }

  final class RemoveOrphans(warehouse: String)
      extends GraftProcedure("remove_orphans") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("grace_ms", LongType, (3600L * 1000).toString))
    private val outSchema = StructType(Seq(
      StructField("removed_files", LongType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val removed = t.removeOrphans(input.getLong(1))
      resultScan(outSchema, InternalRow(removed.size.toLong))
    }
  }

  /** `CALL graft.system.create_view(view => 'db.v', sql_text => '…',
    * replace => false)` — persist a catalog view ([[GraftCatalog]]'s
    * ViewCatalog store). The defining SQL is ANALYZED here (through the
    * session's full extension stack, QUALIFY included) so a broken
    * definition fails at create time, not first read; reads resolve via
    * [[graft.plans.GraftViewRule]] and replan live. Table references in
    * the SQL must be fully qualified (`graft.db.t`) — the stored text is
    * re-parsed in whatever session reads the view. */
  final class CreateView(warehouse: String, cat: GraftCatalog)
      extends GraftProcedure("create_view") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("view", StringType),
      param("sql_text", StringType),
      paramWithDefault("replace", BooleanType, "false"))
    private val outSchema = StructType(Seq(
      StructField("view", StringType),
      StructField("n_columns", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val viewName = input.getUTF8String(0).toString
      val sqlText = input.getUTF8String(1).toString
      val replace = input.getBoolean(2)
      // STATIC checks before the analysis run: every table reference must
      // be fully qualified into THIS catalog (an unqualified name would
      // validate against the creator's temp views / current database and
      // then resolve differently — or not at all — at read time), and the
      // definition must not reference the view itself (under replace the
      // analysis check would resolve the self-reference to the OLD
      // definition and "validate" a permanently unreadable view).
      //
      // The walk is SCOPED, not a flat `plan.foreach`: (a) a CTE name
      // (`WITH x AS (…) … FROM x`) parses as a 1-part UnresolvedRelation
      // but is self-contained in the stored text, so it is exempt while in
      // scope — without this every CTE-bearing definition (the dominant
      // query shape in the reference's own SQL) was refused; (b) subquery
      // expressions (scalar/EXISTS/IN) hang off expressions, which
      // LogicalPlan.foreach does NOT descend into, so their relations are
      // walked explicitly — otherwise an unqualified or self reference
      // inside a subquery persisted a view that breaks for every reader.
      val selfParts = (cat.name() +: viewName.split('.').toSeq)
        .map(_.toLowerCase(java.util.Locale.ROOT))
      def staticCheck(plan: org.apache.spark.sql.catalyst.plans.logical
          .LogicalPlan, ctes: Set[String]): Unit = plan match {
        case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
          // each definition sees the preceding CTEs — plus itself ONLY
          // under WITH RECURSIVE. In a plain WITH, Spark resolves a
          // same-name reference inside the body against the OUTER scope
          // (e.g. the creator's temp view), which is exactly the broken-
          // for-every-reader shape this check exists to refuse, so the
          // exemption must not cover it; the body sees all of them
          var scope = ctes
          w.cteRelations.foreach { case (name, defn, _) =>
            val lower = name.toLowerCase(java.util.Locale.ROOT)
            if (w.allowRecursion) scope += lower
            staticCheck(defn, scope)
            scope += lower
          }
          staticCheck(w.child, scope)
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          val parts = r.multipartIdentifier
          val isCteRef = parts.length == 1 &&
            ctes.contains(parts.head.toLowerCase(java.util.Locale.ROOT))
          if (!isCteRef) {
            require(parts.length >= 3 &&
                parts.head.equalsIgnoreCase(cat.name()),
              s"create_view: reference '${parts.mkString(".")}' must be " +
                s"fully qualified as ${cat.name()}.<ns>.<table> — the stored " +
                "SQL is re-parsed in whatever session reads the view")
            require(parts.map(_.toLowerCase(java.util.Locale.ROOT)) != selfParts,
              s"create_view: definition of $viewName references itself")
          }
        case other =>
          other.children.foreach(staticCheck(_, ctes))
          other.expressions.foreach(_.foreach {
            case sq: org.apache.spark.sql.catalyst.expressions
                .SubqueryExpression => staticCheck(sq.plan, ctes)
            case _ =>
          })
      }
      staticCheck(spark.sessionState.sqlParser.parsePlan(sqlText), Set.empty)
      val schema = spark.sql(sqlText).schema // analysis-time validation
      val parts = viewName.split('.')
      val ident = org.apache.spark.sql.connector.catalog.Identifier
        .of(parts.init, parts.last)
      val info = new org.apache.spark.sql.connector.catalog.ViewInfo(
        ident, sqlText, cat.name(), parts.init, schema,
        schema.fieldNames, Array.empty, Array.empty,
        new util.HashMap[String, String]())
      if (replace) cat.replaceView(info, true) else cat.createView(info)
      resultScan(outSchema,
        InternalRow(utf8(viewName), schema.fields.length))
    }
  }

  /** `CALL graft.system.drop_view(view => 'db.v' [, if_exists => …])`.
    * The PROCEDURE's default stays idempotent (`if_exists => true`,
    * reporting `dropped = false` on a missing view — the established
    * contract cleanup scripts rely on); the native SQL spelling threads
    * the standard semantics through explicitly: `DROP VIEW` desugars
    * with `if_exists => false` (missing view RAISES, like Spark/ANSI),
    * `DROP VIEW IF EXISTS` with `true`. */
  final class DropView(warehouse: String, cat: GraftCatalog)
      extends GraftProcedure("drop_view") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("view", StringType),
      paramWithDefault("if_exists", BooleanType, "true"))
    private val outSchema = StructType(Seq(
      StructField("dropped", BooleanType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val viewName = input.getUTF8String(0).toString
      val parts = viewName.split('.')
      val ifExists = !input.isNullAt(1) && input.getBoolean(1)
      val dropped = cat.dropView(
        org.apache.spark.sql.connector.catalog.Identifier
          .of(parts.init, parts.last))
      if (!dropped && !ifExists)
        throw new IllegalArgumentException(
          s"view $viewName does not exist (use IF EXISTS / " +
            "if_exists => true for an idempotent drop)")
      resultScan(outSchema, InternalRow(dropped))
    }
  }

  /** `CALL graft.system.clone(table => 'db.t', target => 'db.t2')` —
    * zero-copy clone (Snowflake `CREATE TABLE … CLONE`): metadata + hard
    * links only, no data bytes copied; the clone is fully independent
    * afterwards (see [[SnapshotTable.cloneTo]]). */
  final class CloneTable(warehouse: String) extends GraftProcedure("clone") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("target", StringType))
    private val outSchema = StructType(Seq(
      StructField("cloned_files", IntegerType),
      StructField("cloned_rows", LongType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val src = open(warehouse, input.getUTF8String(0).toString)
      val targetLoc = (warehouse +:
        input.getUTF8String(1).toString.split('.').toSeq).mkString("/")
      val t = src.cloneTo(targetLoc)
      val snap = t.head
      resultScan(outSchema,
        InternalRow(snap.files.size, snap.files.map(_.rows).sum))
    }
  }

  /** `CALL graft.system.add_files(table => 'db.t', source_dir => '/path',
    * check_duplicate_files => true)` — in-place migration: adopt existing
    * parquet into the table, footer stats harvested, no data rewrite;
    * `check_duplicate_files => false` (Iceberg signature parity) opts out
    * of the re-adoption refusal for a deliberate duplicate
    * (see [[SnapshotTable.addFiles]]). */
  final class AddFiles(warehouse: String) extends GraftProcedure("add_files") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("source_dir", StringType),
      paramWithDefault("check_duplicate_files", BooleanType, "true"))
    private val outSchema = StructType(Seq(
      StructField("added_files", IntegerType),
      StructField("added_rows", LongType),
      StructField("new_version", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val before = t.head.files.map(_.path).toSet
      val v = t.addFiles(input.getUTF8String(1).toString,
        checkDuplicateFiles = input.getBoolean(2))
      val added = t.snapshot(v).files.filterNot(f => before(f.path))
      resultScan(outSchema,
        InternalRow(added.size, added.map(_.rows).sum, v))
    }
  }

  final class Rollback(warehouse: String) extends GraftProcedure("rollback") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("version", IntegerType))
    private val outSchema = StructType(Seq(
      StructField("restored_version", IntegerType),
      StructField("new_version", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val target = input.getInt(1)
      val v = t.rollbackTo(target)
      resultScan(outSchema, InternalRow(target, v))
    }
  }

  /** `CALL graft.system.create_branch(table => 'db.t', name => 'audit')`
    * — the staging step of write-audit-publish; `version` branches from an
    * older snapshot (default: head). */
  final class CreateBranch(warehouse: String)
      extends GraftProcedure("create_branch") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType),
      paramWithDefault("version", IntegerType, "-1"))
    private val outSchema = StructType(Seq(
      StructField("branch", StringType),
      StructField("based_on_version", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      t.createBranch(name, input.getInt(2))
      resultScan(outSchema, InternalRow(utf8(name), t.branch(name).latestVersion))
    }
  }

  /** `CALL graft.system.create_tag(table => 'db.t', name => 'release-1')`
    * — pin a snapshot against expiration (immutable). */
  final class CreateTag(warehouse: String) extends GraftProcedure("create_tag") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType),
      paramWithDefault("version", IntegerType, "-1"))
    private val outSchema = StructType(Seq(
      StructField("tag", StringType),
      StructField("pinned_version", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      t.createTag(name, input.getInt(2))
      resultScan(outSchema, InternalRow(utf8(name), t.tagVersion(name)))
    }
  }

  /** `CALL graft.system.fast_forward(table => 'db.t', branch => 'audit')`
    * — the publish step: main atomically adopts the branch head. */
  final class FastForward(warehouse: String)
      extends GraftProcedure("fast_forward") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("branch", StringType))
    private val outSchema = StructType(Seq(
      StructField("published_version", IntegerType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val v = t.fastForward(input.getUTF8String(1).toString)
      resultScan(outSchema, InternalRow(v))
    }
  }

  /** `CALL graft.system.drop_ref(table => 'db.t', name => 'audit')`. */
  final class DropRef(warehouse: String) extends GraftProcedure("drop_ref") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      param("name", StringType))
    private val outSchema = StructType(Seq(
      StructField("dropped", StringType)))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      t.dropRef(name)
      resultScan(outSchema, InternalRow(utf8(name)))
    }
  }

  /** `CALL graft.system.set_partition_spec(table => 'db.t',
    * spec => 'days(ts), bucket(16, user_id)')` — metadata-only partition
    * evolution ([[SnapshotTable.setPartitionSpec]]): existing files keep
    * their layout, future writes use the new spec, compaction migrates.
    * An empty spec un-partitions the table. */
  final class SetPartitionSpec(warehouse: String)
      extends GraftProcedure("set_partition_spec") {
    override def parameters(): Array[ProcedureParameter] = Array(
      param("table", StringType),
      paramWithDefault("spec", StringType, "''"),
      paramWithDefault("add", StringType, "''"),
      paramWithDefault("drop", StringType, "''"))
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType),
      StructField("spec", StringType)))
    // split on commas OUTSIDE parens: 'days(ts), bucket(16, user_id)'
    // is two fields, not three
    private def fields(raw: String): Seq[String] =
      raw.split(",(?![^(]*\\))").map(_.trim).filter(_.nonEmpty).toSeq
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = open(warehouse, input.getUTF8String(0).toString)
      def arg(i: Int): String =
        Option(input.getUTF8String(i)).map(_.toString.trim).getOrElse("")
      val (spec, add, drop) = (arg(1), arg(2), arg(3))
      require(spec.isEmpty || (add.isEmpty && drop.isEmpty),
        "set_partition_spec takes either spec => (full replacement, '' " +
          "un-partitions) or add/drop => (incremental edits), not both")
      val v =
        if (add.isEmpty && drop.isEmpty) t.setPartitionSpec(fields(spec))
        else {
          // incremental edit against the CURRENT spec, one atomic commit
          // (Iceberg's ADD/DROP/REPLACE PARTITION FIELD semantics); field
          // matching is on the parsed-normalized name so 'bucket(16,
          // user_id)' finds "bucket(16,user_id)"
          val cur = t.partitionCols
          val dropNames = fields(drop).map(PartitionFields.parse(_).name)
          dropNames.foreach(d => require(cur.contains(d),
            s"DROP PARTITION FIELD $d: not in the current spec " +
              s"(${if (cur.isEmpty) "<unpartitioned>" else cur.mkString(", ")})"))
          val afterDrop = cur.filterNot(dropNames.contains)
          val addNames = fields(add).map(PartitionFields.parse(_).name)
          addNames.foreach(a => require(!afterDrop.contains(a),
            s"ADD PARTITION FIELD $a: already in the spec"))
          t.setPartitionSpec(afterDrop ++ addNames)
        }
      resultScan(outSchema,
        InternalRow(v, utf8(t.partitionCols.mkString(", "))))
    }
  }

  def load(warehouse: String, name: String,
      cat: GraftCatalog): Option[UnboundProcedure] =
    name match {
      case "create_view" => Some(new CreateView(warehouse, cat))
      case "drop_view" => Some(new DropView(warehouse, cat))
      case "compact" => Some(new Compact(warehouse))
      case "fold_eq_deletes" => Some(new FoldEqDeletes(warehouse))
      case "expire_snapshots" => Some(new ExpireSnapshots(warehouse))
      case "rollback" => Some(new Rollback(warehouse))
      case "clone" => Some(new CloneTable(warehouse))
      case "add_files" => Some(new AddFiles(warehouse))
      case "remove_orphans" => Some(new RemoveOrphans(warehouse))
      case "create_branch" => Some(new CreateBranch(warehouse))
      case "create_tag" => Some(new CreateTag(warehouse))
      case "fast_forward" => Some(new FastForward(warehouse))
      case "drop_ref" => Some(new DropRef(warehouse))
      case "set_partition_spec" => Some(new SetPartitionSpec(warehouse))
      case _ => None
    }

  val names: Seq[String] =
    Seq("compact", "fold_eq_deletes", "expire_snapshots", "rollback",
      "clone", "add_files",
      "remove_orphans", "create_branch", "create_tag", "fast_forward",
      "drop_ref", "create_view", "drop_view", "set_partition_spec")

  /** Output of name()/description() for UTF8String-safe literals. */
  private[table] def utf8(s: String): UTF8String = UTF8String.fromString(s)
}

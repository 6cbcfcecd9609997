package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame

/** The commit conflict matrix: each row runs one operation while a
  * competitor commit lands exactly between the operation's base read and
  * its first publish (injected through the [[CommitPrimitive]] seam), and
  * pins whether the operation aborts or rebases.
  *
  *  - abort: the operation throws `ConcurrentModificationException` and
  *    the table is the parent state plus the competitor's commit, nothing
  *    more;
  *  - rebase: both commits land, and the head and every version read back
  *    as an in-memory model of the rows, serialized competitor first.
  *
  * The `equalityDelete` and `upsertMor` rebase rows give the competitor
  * rows under the keys they delete: those rows die only if the rebased
  * commit scopes its equality delete to the version it actually won. */
class CommitConflictSpec extends SparkFunSuite {
  import spark.implicits._

  private type Rows = Seq[(Long, Long)]

  private def frame(rows: Rows): DataFrame = rows.toDF("id", "v")

  private def rowsOf(df: DataFrame): Rows =
    df.select("id", "v").as[(Long, Long)].collect().toSeq.sorted

  /** One commit on the table at `loc`: its history operation, its effect
    * on the rows, and any other state it must leave. */
  private case class Commit(name: String, operation: String,
      run: String => Unit, model: Rows => Rows = identity,
      check: SnapshotTable => Unit = _ => ())

  private def load(loc: String) = SnapshotTable.load(spark, loc)

  // ids 1000-1002: fresh keys, except that 1001 and 1002 are the keys the
  // equality-delete and upsertMor rows delete
  private val appendRows: Rows = Seq((1000L, 1L), (1001L, 2L), (1002L, 3L))
  private val append = Commit("append", "append",
    loc => load(loc).append(frame(appendRows)), _ ++ appendRows)
  private val compact = Commit("compact", "compact", loc => load(loc).compact())
  private val positionDelete = Commit("positionDelete", "delete",
    loc => load(loc).positionDelete($"id" === 20L), _.filterNot(_._1 == 20L))
  private val equalityDelete = Commit("equalityDelete", "delete",
    loc => load(loc).equalityDelete(Seq(21L).toDF("id")),
    _.filterNot(_._1 == 21L))
  private val addColumn = Commit("addColumn", "alter", { loc =>
    val c = load(loc)
    val v = c.latestVersion
    val grown = org.apache.spark.sql.types.DataType
      .fromJson(c.snapshot(v).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .add("extra", org.apache.spark.sql.types.IntegerType, nullable = true)
    c.commitEvolution(grown.json, Seq.empty, validatedAt = v)
  })

  private def upserted(updates: Rows)(rows: Rows): Rows =
    rows.filterNot(r => updates.exists(_._1 == r._1)) ++ updates

  /** A parquet directory holding `rows`, outside the table. */
  private def parquetDir(name: String, rows: Rows): String = {
    val dir = scratch(name)
    frame(rows).coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** (operation, competitor, setup before the base read) -> abort. */
  private val aborts: Seq[(Commit, Commit, String => Unit)] = Seq(
    (Commit("replaceWhere", "overwrite", loc => load(loc).replaceWhere(
      $"id" < 10L, frame(Seq((5L, 555L))))), append, _ => ()),
    (Commit("upsert", "overwrite", loc => load(loc).upsert(
      frame(Seq((3L, 333L))), Seq("id"))), append, _ => ()),
    (Commit("mergeMor", "merge", loc => load(loc).mergeMor(
      frame(Seq((4L, 444L))), Seq("id"))), append, _ => ()),
    (Commit("replaceWithStagedDir", "update", { loc =>
      val t = load(loc)
      val staged = parquetDir("conflict-staged", Seq((7L, 777L)))
      t.replaceWithStagedDir(t.latestVersion,
        java.nio.file.Paths.get(staged), "update")
    }), append, _ => ()),
    (compact, positionDelete, _ => ()),
    (compact, equalityDelete, _ => ()),
    (compact, compact, _ => ()),
    (Commit("foldEqDeletes", "fold_eq_deletes",
      loc => load(loc).foldEqDeletes()),
      positionDelete.copy(run = loc => load(loc).positionDelete($"id" === 31L),
        model = _.filterNot(_._1 == 31L)),
      loc => load(loc).equalityDelete(Seq(30L).toDF("id"))),
    (positionDelete.copy(run = loc => load(loc).positionDelete($"id" === 40L)),
      compact, _ => ()),
    (Commit("addFiles", "add_files", loc => load(loc).addFiles(
      parquetDir("conflict-adopt", Seq((2000L, 1L))))), addColumn, _ => ()))

  /** (operation, competitor) -> both land. */
  private val rebases: Seq[(Commit, Commit)] = Seq(
    (compact, append),
    (positionDelete.copy(run = loc => load(loc).positionDelete($"id" === 50L),
      model = _.filterNot(_._1 == 50L)), append),
    (equalityDelete.copy(
      run = loc => load(loc).equalityDelete(Seq(60L, 1001L).toDF("id")),
      model = _.filterNot(r => r._1 == 60L || r._1 == 1001L)), append),
    (Commit("upsertMor", "merge", loc => load(loc).upsertMor(
        frame(Seq((61L, 611L), (1002L, 10020L))), Seq("id")),
      upserted(Seq((61L, 611L), (1002L, 10020L)))), append),
    (Commit("setProperties", "alter", loc => load(loc).setProperties(
      Map("conflict.spec" -> "set")),
      check = t => assert(t.properties.get("conflict.spec").contains("set"))),
      append))

  /** Create a four-file table and run `setup`; then run `check` (which
    * runs the operation) with `competitor` committed inside the first
    * publish under the table, handing it the table, the base version and
    * the rows at it. */
  private def race(label: String, op: Commit, competitor: Commit,
      setup: String => Unit)(check: (SnapshotTable, Int, Rows) => Unit): Unit = {
    val loc = scratch(s"conflict-$label")
    val t = SnapshotTable.create(spark, loc,
      spark.range(0, 100, 1, 4).selectExpr("id", "id * 10 AS v"))
    setup(loc)
    val v0 = t.latestVersion
    val parent = rowsOf(t.read())
    var injected = 0
    val inCompetitor = new java.lang.ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }
    val racy = new CommitPrimitive {
      override def publish(dest: java.nio.file.Path, content: String): Boolean = {
        if (injected == 0 && !inCompetitor.get()) {
          injected += 1
          inCompetitor.set(true)
          try competitor.run(loc) finally inCompetitor.set(false)
        }
        CommitPrimitive.PosixHardLink.publish(dest, content)
      }
    }
    CommitPrimitive.withPrimitive(loc, racy) {
      check(t, v0, parent)
    }
    assert(injected == 1, s"$label: the competitor never ran")
  }

  private def ops(t: SnapshotTable): Seq[String] =
    t.history().orderBy("version").collect()
      .map(_.getAs[String]("operation")).toSeq

  aborts.foreach { case (op, competitor, setup) =>
    val label = s"${op.name} vs ${competitor.name}"
    test(s"abort: $label") {
      race(label.replace(' ', '-'), op, competitor, setup) { (t, v0, parent) =>
        intercept[java.util.ConcurrentModificationException] {
          op.run(t.location)
        }
        assert(t.latestVersion == v0 + 1)
        assert(ops(t).last == competitor.operation)
        assert(rowsOf(t.read()) == competitor.model(parent).sorted)
        assert(rowsOf(t.readVersion(v0)) == parent)
      }
    }
  }

  rebases.foreach { case (op, competitor) =>
    val label = s"${op.name} vs ${competitor.name}"
    test(s"rebase: $label") {
      race(label.replace(' ', '-'), op, competitor, _ => ()) { (t, v0, parent) =>
        op.run(t.location)
        val afterCompetitor = competitor.model(parent).sorted
        assert(t.latestVersion == v0 + 2)
        assert(rowsOf(t.readVersion(v0)) == parent)
        assert(rowsOf(t.readVersion(v0 + 1)) == afterCompetitor)
        assert(rowsOf(t.read()) == op.model(afterCompetitor).sorted)
        assert(ops(t).takeRight(2) == Seq(competitor.operation, op.operation))
        op.check(t)
      }
    }
  }
}

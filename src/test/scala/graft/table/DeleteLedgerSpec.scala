package graft.table

import java.nio.file.{Files, Paths}

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** A delete ledger within [[SnapshotTable.LiteralLedgerMax]] entries is read
  * on the driver and applied as literal row predicates; a larger one
  * anti-joins. Either way a read returns the rows the join path returns,
  * and the literal path starts no job of its own. */
class DeleteLedgerSpec extends SparkFunSuite {
  import spark.implicits._

  /** The join path's answer, spelled out: each stratum's files anti-joined
    * on (file, pos) and, null-safe, on every applicable equality delete's
    * keys. */
  private def viaJoins(t: SnapshotTable): Seq[String] = {
    val s = t.head
    s.files.groupBy(f => s.eqDeleteFiles.map(SnapshotTable.eqDeleteApplies(_, f)))
      .toSeq.flatMap { case (sig, fs) =>
        var df = t.readFileList(fs, s.schema, s.renames, withRowMeta = true)
        if (s.deleteFiles.nonEmpty) {
          val d = t.deleteEntries(s.deleteFiles)
          df = df.join(d, df(SnapshotTable.MetaFile) === d("file_path") &&
            df(SnapshotTable.MetaPos) === d("pos"), "left_anti")
        }
        s.eqDeleteFiles.zip(sig).collect { case (d, true) => d }.foreach { d =>
          val e = spark.read.parquet(d.path).toDF(d.keyCols.map("e_" + _): _*)
          df = df.join(e, d.keyCols.map(k => df(k) <=> e("e_" + k)).reduce(_ && _),
            "left_anti")
        }
        rowsOf(df.select(s.schema.fieldNames.map(col).toIndexedSeq: _*))
      }.sorted
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  /** `t` reads the join path's rows, through the literal predicates. */
  private def assertLiteral(t: SnapshotTable): Seq[String] = {
    val got = rowsOf(t.read())
    assert(got == viaJoins(t))
    assert(joins(t.read()) == 0)
    assert(joins(t.readVersion(t.latestVersion)) == 0)
    got
  }

  private def frame(from: Long, until: Long): DataFrame =
    spark.range(from, until).selectExpr("id", "CAST(id % 5 AS INT) AS k",
      "CAST(id AS STRING) AS v")

  for ((name, label) <- Seq("ledger-strata" -> "plain location",
      "ledger strata space" -> "location with a space")) {
    test(s"position and equality deletes across two strata read as the join path does ($label)") {
      val t = SnapshotTable.create(spark, scratch(name), frame(0, 40))    // v0
      t.append(frame(40, 60))                                             // v1
      t.positionDelete(col("id") < 3 || col("id") === 45)                 // v2
      t.equalityDelete(Seq(1).toDF("k"))                                  // v3
      t.append(frame(60, 70))           // v4: a stratum the v3 delete misses
      t.upsertMor(Seq((100L, 2, "u")).toDF("id", "k", "v"), Seq("k"))     // v5
      assert(t.head.files.map(_.addedAt).distinct.size >= 3)
      val got = assertLiteral(t)
      val want = ((3L until 40L) ++ (40L until 45L) ++ (46L until 60L))
        .filter(i => i % 5 != 1 && i % 5 != 2) ++
        (60L until 70L).filter(_ % 5 != 2)
      assert(got == rowsOf((want.map(i => (i, (i % 5).toInt, i.toString)) :+
        ((100L, 2, "u"))).toDF("id", "k", "v")))
      // the merge probe reads through the same ledger
      t.mergeMor(Seq((61L, 3, "m")).toDF("id", "k", "v"), Seq("id"))
      assert(assertLiteral(t).size == got.size)
    }
  }

  test("NULL entries delete NULL-keyed rows on one- and two-column keys, null-safe") {
    val rows = Seq[(Long, Option[String], Option[Int])](
      (1, None, None), (2, None, Some(1)), (3, Some("x"), None),
      (4, Some("x"), Some(1)), (5, Some("y"), None), (6, Some("y"), Some(2)),
      (7, Some("z"), Some(3)), (8, None, Some(2)))
    val t = SnapshotTable.create(spark, scratch("ledger-nulls"),
      rows.toDF("id", "a", "b"))
    // one column, entries without NULL: NULL-keyed rows survive
    t.equalityDelete(Seq(Some("z")).toDF("a"))
    assert(assertLiteral(t).size == 7)
    // two columns with NULL components: (NULL, 1) and ('y', NULL)
    t.equalityDelete(Seq[(Option[String], Option[Int])](
      (None, Some(1)), (Some("y"), None)).toDF("a", "b"))
    assert(assertLiteral(t).size == 5)
    // one column, a NULL entry: every NULL-keyed row goes
    t.equalityDelete(Seq[Option[String]](None, Some("q")).toDF("a"))
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L, 6L))
    assertLiteral(t)
  }

  test("long, string, date, timestamp and double keys match as the join does") {
    val base = spark.range(0, 30).selectExpr("id",
      "CAST(id AS STRING) AS s",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
      "timestamp_micros(1704067200000000 + id * 1000000) AS ts",
      "CASE WHEN id = 0 THEN -0.0D WHEN id = 29 THEN CAST('NaN' AS DOUBLE) " +
        "ELSE id / 4.0D END AS x")
    val t = SnapshotTable.create(spark, scratch("ledger-types"), base)
    t.equalityDelete(Seq(1L, 2L).toDF("id"))
    t.equalityDelete(Seq("3", "4").toDF("s"))
    t.equalityDelete(Seq(java.sql.Date.valueOf("2024-01-06")).toDF("d"))
    t.equalityDelete(spark.sql(
      "SELECT timestamp_micros(1704067200000000 + 6 * 1000000) AS ts"))
    // 0.0 matches the -0.0 row and NaN the NaN row, as under <=>
    t.equalityDelete(Seq(0.0, 1.75, Double.NaN).toDF("x"))
    val got = assertLiteral(t)
    assert(got.size == 30 - 9)
  }

  test("a ledger one entry past the bound takes the join path with the same rows") {
    val n = SnapshotTable.LiteralLedgerMax
    val t = SnapshotTable.create(spark, scratch("ledger-bound"),
      spark.range(0, n + 20).selectExpr("id", "id % 3 AS g"))
    t.equalityDelete(spark.range(0, n - 1).toDF("id"))
    t.positionDelete(col("id") === n + 5)
    assert(t.head.eqDeleteFiles.map(_.rows).sum + t.head.deleteFiles.map(_.rows).sum == n)
    assert(rowsOf(t.read()) == viaJoins(t))
    assert(joins(t.read()) == 0)
    t.positionDelete(col("id") === n + 6)              // n + 1 entries
    val got = rowsOf(t.read())
    assert(got == viaJoins(t))
    assert(joins(t.read()) > 0)
    assert(got.size == 19)
  }

  test("a read over a live ledger starts as many jobs as the same read after compaction") {
    val t = SnapshotTable.create(spark, scratch("ledger-jobs"), frame(0, 50))
    t.append(frame(50, 60))
    t.positionDelete(col("id") === 3)
    t.equalityDelete(Seq(2).toDF("k"))
    t.upsertMor(Seq((200L, 4, "u")).toDF("id", "k", "v"), Seq("k"))
    def reads(): (Seq[String], Int, Int) = {
      val (rows, scan) = jobsDuring(rowsOf(t.read()))
      val (_, agg) = jobsDuring(t.read().groupBy("k").count().collect())
      (rows, scan, agg)
    }
    val (live, liveScan, liveAgg) = reads()
    t.compact()
    assert(t.head.deleteFiles.isEmpty && t.head.eqDeleteFiles.isEmpty)
    val (folded, scan, agg) = reads()
    assert(live == folded)
    assert(liveScan == scan, s"scan over the ledger: $liveScan jobs, after compact: $scan")
    assert(liveAgg == agg, s"agg over the ledger: $liveAgg jobs, after compact: $agg")
  }

  test("equalityDelete of driver-held keys starts no job and adds one file whose manifest matches its footer") {
    val t = SnapshotTable.create(spark, scratch("ledger-local-keys"), frame(0, 30))
    val (n, jobs) = jobsDuring(t.equalityDelete(Seq(4, 1, 4, 1).toDF("k")))
    assert(jobs == 0)
    assert(n == 2)
    val Seq(d) = t.head.eqDeleteFiles
    val (rows, bytes, _) = SnapshotTable.footerStats(d.path, Seq.empty)
    assert(d.rows == 2 && rows == 2)
    assert(d.bytes == bytes && bytes == Files.size(Paths.get(d.path)))
    assert(d.keyCols == Seq("k"))
    // distinct and sorted, under the declared type
    assert(spark.read.parquet(d.path).as[Int].collect().toSeq == Seq(1, 4))
    assert(rowsOf(t.read()) == rowsOf(frame(0, 30).filter(!col("k").isin(1, 4))))
  }

  test("a file-backed key frame keeps its staging job") {
    val t = SnapshotTable.create(spark, scratch("ledger-file-keys"), frame(0, 30))
    val keys = scratch("ledger-file-keys-src")
    Seq(3, 3).toDF("k").write.parquet(keys)
    val (n, jobs) = jobsDuring(t.equalityDelete(spark.read.parquet(keys)))
    assert(n == 1)
    assert(jobs > 0)
    assert(rowsOf(t.read()) == rowsOf(frame(0, 30).filter(col("k") =!= 3)))
  }
}

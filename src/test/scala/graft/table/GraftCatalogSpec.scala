package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class GraftCatalogSpec extends SparkFunSuite {

  private lazy val wh = {
    val w = scratch("catalog-wh")
    spark.conf.set("spark.sql.catalog.tt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.tt.warehouse", w)
    w
  }

  private def makeTable(name: String): SnapshotTable = {
    val e = graft.Tables.load(spark, sf, "events")
    val t = SnapshotTable.create(spark, s"$wh/db/$name", e.filter(col("event_id") < 500))
    t.append(e.filter(col("event_id") >= 500))
    t
  }

  test("SELECT through the catalog reads the latest snapshot") {
    makeTable("ev_latest")
    assert(spark.sql("SELECT count(*) FROM tt.db.ev_latest").head().getLong(0) == 1000L)
  }

  test("VERSION AS OF pins an old snapshot") {
    makeTable("ev_ver")
    assert(spark.sql("SELECT count(*) FROM tt.db.ev_ver VERSION AS OF 0")
      .head().getLong(0) == 500L)
  }

  test("TIMESTAMP AS OF resolves the snapshot committed before the instant") {
    val e = graft.Tables.load(spark, sf, "events")
    val t = SnapshotTable.create(spark, s"$wh/db/ev_ts", e.filter(col("event_id") < 500))
    Thread.sleep(20)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(20)
    t.append(e.filter(col("event_id") >= 500))
    val ts = new java.sql.Timestamp(betweenMs)
    val n = spark.sql(
      s"SELECT count(*) FROM tt.db.ev_ts TIMESTAMP AS OF '$ts'").head().getLong(0)
    assert(n == 500L)
  }

  test("predicates push down through the catalog scan") {
    makeTable("ev_push")
    val df = spark.sql(
      "SELECT count(*) FROM tt.db.ev_push WHERE event_type = 'purchase'")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"filter not pushed:\n$scan")
  }

  test("listTables and dropTable round-trip") {
    makeTable("ev_drop")
    assert(spark.sql("SHOW TABLES IN tt.db").collect()
      .exists(_.getString(1) == "ev_drop"))
    spark.sql("DROP TABLE tt.db.ev_drop")
    assert(!spark.sql("SHOW TABLES IN tt.db").collect()
      .exists(_.getString(1) == "ev_drop"))
  }

  test("SQL CREATE TABLE + INSERT INTO + INSERT OVERWRITE commit snapshots") {
    wh // force catalog registration
    spark.sql("DROP TABLE IF EXISTS tt.db.sqldml")
    spark.sql("CREATE TABLE tt.db.sqldml (id BIGINT, label STRING)")
    spark.sql("INSERT INTO tt.db.sqldml VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO tt.db.sqldml VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM tt.db.sqldml").head().getLong(0) == 3L)
    // each DML statement is one snapshot: create=0, insert=1, insert=2
    assert(spark.sql("SELECT count(*) FROM tt.db.sqldml VERSION AS OF 1")
      .head().getLong(0) == 2L)
    spark.sql("INSERT OVERWRITE tt.db.sqldml VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM tt.db.sqldml").head().getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM tt.db.sqldml VERSION AS OF 2")
      .head().getLong(0) == 3L) // pre-overwrite still travelable
  }

  test("manifest stats skip files whose range cannot match the predicate") {
    wh
    val e = graft.Tables.load(spark, sf, "events")
    val loc = s"$wh/db/ev_stats"
    graft.Tables.deleteRecursively(loc)
    val t = SnapshotTable.create(spark, loc,
      e.filter(col("event_id") < 300).coalesce(1))
    t.append(e.filter(col("event_id") >= 300 && col("event_id") < 600).coalesce(1))
    t.append(e.filter(col("event_id") >= 600).coalesce(1))
    assert(t.snapshot(t.latestVersion).files.size == 3)
    // manifest stats were recorded
    assert(t.snapshot(t.latestVersion).files.forall(_.stats.contains("event_id")))

    def scannedFiles(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.executedPlan
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          RuntimeFiltering.unwrap(b.scan).asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }
      scans.sum
    }
    assert(scannedFiles("SELECT * FROM tt.db.ev_stats") == 3)
    assert(scannedFiles("SELECT * FROM tt.db.ev_stats WHERE event_id < 100") == 1)
    assert(scannedFiles("SELECT * FROM tt.db.ev_stats WHERE event_id >= 600") == 1)
    assert(scannedFiles("SELECT * FROM tt.db.ev_stats WHERE event_id BETWEEN 300 AND 400") == 1)
    // correctness unaffected by skipping
    assert(spark.sql("SELECT count(*) FROM tt.db.ev_stats WHERE event_id < 100")
      .head().getLong(0) == 100L)
  }

  test("clustered compaction makes stats ranges disjoint and prunable") {
    wh
    val e = graft.Tables.load(spark, sf, "events")
    val loc = s"$wh/db/ev_cluster"
    graft.Tables.deleteRecursively(loc)
    // interleaved appends: every file covers the whole event_id range
    val t = SnapshotTable.create(spark, loc,
      e.filter(col("event_id") % 3 === 0).coalesce(1))
    t.append(e.filter(col("event_id") % 3 === 1).coalesce(1))
    t.append(e.filter(col("event_id") % 3 === 2).coalesce(1))
    def scanned(sql: String): Int =
      spark.sql(sql).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          RuntimeFiltering.unwrap(b.scan).asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.sum
    // before clustering: no file can be skipped (all ranges overlap)
    assert(scanned("SELECT * FROM tt.db.ev_cluster WHERE event_id < 50") == 3)
    t.compact(targetBytes = 16L * 1024, clusterBy = Seq("event_id"))
    val nFiles = t.snapshot(t.latestVersion).files.size
    assert(nFiles > 1, "need multiple output files to show pruning")
    val hit = scanned("SELECT * FROM tt.db.ev_cluster WHERE event_id < 50")
    assert(hit < nFiles, s"expected pruning: $hit of $nFiles files scanned")
    assert(spark.sql("SELECT count(*) FROM tt.db.ev_cluster").head().getLong(0) == e.count())
  }

  test("count(*) through the catalog pushes the aggregate to parquet metadata") {
    makeTable("ev_agg")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = spark.sql("SELECT count(*) FROM tt.db.ev_agg")
      assert(df.head().getLong(0) == 1000L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)]"),
        s"aggregate not pushed:\n$plan")
    } finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  test("SQL DELETE FROM removes matching rows in one snapshot") {
    makeTable("ev_delete")
    val before = spark.sql("SELECT count(*) FROM tt.db.ev_delete").head().getLong(0)
    spark.sql("DELETE FROM tt.db.ev_delete WHERE event_type = 'purchase'")
    val after = spark.sql("SELECT count(*) FROM tt.db.ev_delete").head().getLong(0)
    assert(after < before)
    assert(spark.sql(
      "SELECT count(*) FROM tt.db.ev_delete WHERE event_type = 'purchase'")
      .head().getLong(0) == 0L)
    // pre-delete snapshot still travelable (version 1 = post-append)
    assert(spark.sql("SELECT count(*) FROM tt.db.ev_delete VERSION AS OF 1")
      .head().getLong(0) == before)
  }

  test("concurrent SQL INSERTs both commit (ACID through the SQL layer)") {
    wh
    spark.sql("DROP TABLE IF EXISTS tt.db.sqlconc")
    spark.sql("CREATE TABLE tt.db.sqlconc (id BIGINT)")
    val threads = (1 to 3).map { i =>
      new Thread(() => {
        spark.sql(s"INSERT INTO tt.db.sqlconc VALUES ($i), (${i * 10})")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(spark.sql("SELECT count(*) FROM tt.db.sqlconc").head().getLong(0) == 6L)
    assert(spark.sql("SELECT CAST(sum(id) AS BIGINT) FROM tt.db.sqlconc")
      .head().getLong(0) == (1 + 10 + 2 + 20 + 3 + 30))
  }

  test("an empty snapshot directory left by a crashed first commit is not a table") {
    val loc = s"$wh/db/crashed"
    graft.Tables.deleteRecursively(loc)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(loc, "_snapshots"))
    assert(!spark.catalog.tableExists("tt.db.crashed"))
    spark.sql("CREATE TABLE IF NOT EXISTS tt.db.crashed (id BIGINT)")
    spark.sql("INSERT INTO tt.db.crashed VALUES (1), (2)")
    assert(spark.sql("SELECT count(*) FROM tt.db.crashed").head().getLong(0) == 2L)
  }
}

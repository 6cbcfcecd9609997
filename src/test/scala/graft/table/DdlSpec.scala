package graft.table

import graft.SparkFunSuite

/** SQL DDL surface through the catalog: CTAS, CREATE OR REPLACE,
  * RENAME (metadata-only manifest rewrite), DROP. */
class DdlSpec extends SparkFunSuite {

  test("CTAS, CREATE OR REPLACE, RENAME, DROP round-trip") {
    val wh = scratch("ddl-wh")
    spark.conf.set("spark.sql.catalog.ddx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ddx.warehouse", wh)
    spark.sql("CREATE TABLE ddx.db.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO ddx.db.src VALUES (1, 1.5), (2, 2.5)")

    spark.sql("CREATE TABLE ddx.db.dst AS SELECT id, v * 2 AS v2 FROM ddx.db.src")
    assert(spark.table("ddx.db.dst").count() == 2)
    assert(spark.sql("SELECT sum(v2) FROM ddx.db.dst").head().getDouble(0) == 8.0)

    spark.sql("CREATE OR REPLACE TABLE ddx.db.dst AS SELECT 42 AS answer")
    assert(spark.table("ddx.db.dst").count() == 1)

    // rename moves the dir and rewrites manifest paths — data and time
    // travel must survive under the new name
    spark.sql("INSERT INTO ddx.db.dst VALUES (43)")
    spark.sql("ALTER TABLE ddx.db.dst RENAME TO db.renamed")
    assert(spark.table("ddx.db.renamed").count() == 2)
    assert(spark.sql("SELECT count(*) FROM ddx.db.renamed VERSION AS OF 1")
      .head().getLong(0) == 1)
    assert(!spark.catalog.tableExists("ddx.db.dst"))

    spark.sql("DROP TABLE ddx.db.renamed")
    assert(!spark.catalog.tableExists("ddx.db.renamed"))
  }

  test("RENAME carries branch chains and manifest chunks to the new location") {
    import spark.implicits._
    val wh = scratch("ddl-wh-refs")
    spark.conf.set("spark.sql.catalog.ddr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ddr.warehouse", wh)
    spark.sql("CREATE TABLE ddr.db.t (id BIGINT, v DOUBLE)")
    // one entry per inline manifest: every later commit writes chunk files
    spark.sql("ALTER TABLE ddr.db.t SET TBLPROPERTIES " +
      s"('${SnapshotTable.ManifestInlineMax}' = '1')")
    spark.sql("INSERT INTO ddr.db.t VALUES (1, 1.0), (2, 2.0)")
    spark.sql("INSERT INTO ddr.db.t VALUES (3, 3.0)")
    val t = SnapshotTable.load(spark, s"$wh/db/t")
    val v = t.latestVersion
    assert(t.snapshot(v).manifestRefs.nonEmpty)
    t.createBranch("audit")
    t.branch("audit").append(Seq((4L, 4.0)).toDF("id", "v"))

    spark.sql("ALTER TABLE ddr.db.t RENAME TO db.moved")
    assert(spark.table("ddr.db.moved").count() == 3)
    assert(spark.sql("SELECT count(*) FROM ddr.db.moved VERSION AS OF 'audit'")
      .head().getLong(0) == 4)
    assert(spark.sql(s"SELECT count(*) FROM ddr.db.moved VERSION AS OF ${v - 1}")
      .head().getLong(0) == 2)
    assert(!spark.catalog.tableExists("ddr.db.t"))
  }
}

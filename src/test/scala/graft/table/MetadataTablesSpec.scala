package graft.table

import graft.SparkFunSuite

/** SQL metadata tables over the snapshot log: history / snapshots / files. */
class MetadataTablesSpec extends SparkFunSuite {

  test("history and files metadata tables are SQL-queryable") {
    val wh = scratch("meta-wh")
    spark.conf.set("spark.sql.catalog.mtx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mtx.warehouse", wh)
    spark.sql("CREATE TABLE mtx.db.t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO mtx.db.t VALUES (1, 1.5), (2, 2.5)")
    spark.sql("INSERT INTO mtx.db.t VALUES (3, 3.5)")

    val hist = spark.sql(
      "SELECT version, operation, n_rows FROM mtx.db.t.history ORDER BY version")
      .collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(hist(0).getString(1) == "create" && hist(0).getLong(2) == 0)
    assert(hist(1).getString(1) == "append" && hist(1).getLong(2) == 2)
    assert(hist(2).getLong(2) == 3)

    // snapshots is an alias of history; predicates work above the LocalScan
    assert(spark.sql(
      "SELECT count(*) FROM mtx.db.t.snapshots WHERE operation = 'append'")
      .head().getLong(0) == 2)

    val files = spark.sql(
      "SELECT count(*) AS nf, sum(row_count) AS rows FROM mtx.db.t.files").head()
    assert(files.getLong(1) == 3)
    assert(spark.sql("SELECT stats_json FROM mtx.db.t.files")
      .collect().forall(_.getString(0).contains("\"id\"")))

    // the base table itself still resolves normally
    assert(spark.sql("SELECT count(*) FROM mtx.db.t").head().getLong(0) == 3)
  }

  test("partitions metadata table rolls up files per partition value") {
    import org.apache.spark.sql.functions._
    val wh = scratch("meta-part-wh")
    spark.conf.set("spark.sql.catalog.mtp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mtp.warehouse", wh)
    spark.sql(
      """CREATE TABLE mtp.db.ev (event_id BIGINT, event_type STRING, day DATE)
        |PARTITIONED BY (day)""".stripMargin)
    graft.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("day"))
      .writeTo("mtp.db.ev").append()

    val parts = spark.sql(
      "SELECT partition, n_files, n_rows, size_bytes FROM mtp.db.ev.partitions")
      .collect()
    assert(parts.length >= 25, s"expected ~30 day partitions, got ${parts.length}")
    assert(parts.forall(r => r.getString(0).startsWith("day=") &&
      r.getLong(1) >= 1 && r.getLong(3) > 0))
    // the rollup accounts for every row exactly once
    assert(parts.map(_.getLong(2)).sum ==
      graft.Tables.load(spark, sf, "events").count())
    // flat rewrite files spanning partitions surface under the sentinel
    spark.sql("UPDATE mtp.db.ev SET event_id = event_id WHERE event_id % 9 = 0")
    val after = spark.sql(
      "SELECT partition, n_rows FROM mtp.db.ev.partitions").collect()
    assert(after.exists(_.getString(0).contains("<multiple>")),
      s"rewrite files not surfaced: ${after.map(_.getString(0)).mkString(",")}")
    assert(after.map(_.getLong(1)).sum ==
      graft.Tables.load(spark, sf, "events").count())

    // an unpartitioned table answers with a single whole-table rollup row
    // (Iceberg's shape) instead of refusing
    spark.sql("CREATE TABLE mtp.db.flat (id BIGINT)")
    spark.sql("INSERT INTO mtp.db.flat VALUES (1), (2)")
    val flat = spark.sql(
      "SELECT partition, n_files, n_rows FROM mtp.db.flat.partitions").collect()
    assert(flat.length == 1 && flat(0).getString(0) == "<unpartitioned>")
    assert(flat(0).getLong(2) == 2L)
  }

  test("rollups surface unknown stats as null, never an undercount") {
    import java.nio.file.{Files, Paths}
    val wh = scratch("meta-unknown-wh")
    spark.conf.set("spark.sql.catalog.mtu", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mtu.warehouse", wh)
    spark.sql("CREATE TABLE mtu.db.legacy (id BIGINT)")
    spark.sql("INSERT INTO mtu.db.legacy VALUES (1), (2), (3)")

    // degrade the manifest to a legacy shape: row count unrecorded (-1)
    val snapDir = Paths.get(s"$wh/db/legacy/_snapshots")
    import scala.jdk.CollectionConverters._
    Files.list(snapDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach { p =>
        val doc = Files.readString(p)
        Files.writeString(p, doc.replaceAll("\"rows\"\\s*:\\s*\\d+", "\"rows\" : -1"))
      }

    // an unknown input makes the rollup NULL — a silent partial sum would
    // read as "this partition has 0 rows", which is a lie
    val part = spark.sql(
      "SELECT n_files, n_rows FROM mtu.db.legacy.partitions").head()
    assert(part.getLong(0) >= 1)
    assert(part.isNullAt(1), s"expected null n_rows, got ${part.get(1)}")
    val hist = spark.sql(
      "SELECT n_rows FROM mtu.db.legacy.history ORDER BY version DESC").head()
    assert(hist.isNullAt(0), s"expected null history n_rows, got ${hist.get(0)}")
  }

  // the sketch pass keys files by the reader's path spelling, which
  // URI-encodes a space that the manifest path keeps plain
  for ((name, suffix) <- Seq("meta-ndv" -> "", "meta ndv" -> " (location with a space)"))
  test(s"NDV sketches: metadata-only distinct estimates within 5%, carried through compaction$suffix") {
    import org.apache.spark.sql.functions._
    val loc = scratch(name)
    val events = graft.Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value", "ts")
    // opt in BEFORE the data lands: create empty, set the property, append
    val t = SnapshotTable.createEmpty(spark, loc, events.schema)
    t.setProperties(Map(
      SnapshotTable.NdvSketchColumns -> "user_id, event_type, event_id"))
    t.append(events.filter(col("event_id") % 2 === 0).repartition(3))
    t.append(events.filter(col("event_id") % 2 =!= 0).repartition(2))

    def trueNdv(c: String): Long = events.select(c).distinct().count()
    def assertClose(c: String): Unit = {
      val est = t.ndvEstimate(c).getOrElse(fail(s"no sketch for $c"))
      val exact = trueNdv(c)
      assert(math.abs(est - exact) <= math.max(1, 0.05 * exact),
        s"$c: estimate $est vs exact $exact drifted past 5%")
    }
    assertClose("user_id")
    assertClose("event_type")
    assertClose("event_id") // high-cardinality: the case HLL exists for
    // un-sketched and unknown columns answer unknown, never a guess
    assert(t.ndvEstimate("value").isEmpty)
    assert(t.ndvEstimate("nope").isEmpty)

    // sketches are per-file and mergeable: every live file carries one
    val snap = t.snapshot(t.latestVersion)
    assert(snap.files.nonEmpty &&
      snap.files.forall(_.ndv.keySet == Set("user_id", "event_type", "event_id")))

    // compaction rewrites files through the same stats pass → sketches
    // survive and the table estimate stays tight
    t.compact(targetBytes = 1L << 20)
    assert(t.snapshot(t.latestVersion).files.forall(_.ndv.nonEmpty))
    assertClose("user_id")
    assertClose("event_id")

    // the files metadata table surfaces per-file estimates as JSON
    // one catalog per location: a catalog keeps the warehouse it was
    // first initialized with
    val cat = if (suffix.isEmpty) "mtn" else "mtns"
    val wh = scratch(s"${name.replace(' ', '-')}-wh")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$wh/db"))
    t.cloneTo(s"$wh/db/ndvt")
    val ndvJson = spark.sql(s"SELECT ndv_json FROM $cat.db.ndvt.files")
      .collect().map(_.getString(0))
    assert(ndvJson.nonEmpty && ndvJson.forall(_.contains("\"user_id\"")))
  }
}

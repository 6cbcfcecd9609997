package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Round-3 table-layer behavior: SQL ALTER TABLE, identity-partitioned
  * catalog tables, timestamp manifest stats, NULL-safe DELETE, and
  * copy-on-write conflict validation. */
class TableEvolutionSpec extends SparkFunSuite {
  import spark.implicits._

  private lazy val wh = {
    val w = scratch("evolution-wh")
    spark.conf.set("spark.sql.catalog.ev", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ev.warehouse", w)
    w
  }

  private def scannedFiles(sql: String): Int =
    spark.sql(sql).queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        RuntimeFiltering.unwrap(b.scan).asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
          .fileIndex.inputFiles.length
    }.sum

  test("ALTER TABLE ADD COLUMN: old rows read null through SQL") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.altered")
    spark.sql("CREATE TABLE ev.db.altered (id BIGINT, label STRING)")
    spark.sql("INSERT INTO ev.db.altered VALUES (1, 'a'), (2, 'b')")
    // the reference's own evolution DDL shape
    // (aws-community-builders-presentation.md:124-128)
    spark.sql("ALTER TABLE ev.db.altered ADD COLUMN score DOUBLE")
    val cols = spark.sql("SELECT * FROM ev.db.altered").columns.toSeq
    assert(cols == Seq("id", "label", "score"))
    assert(spark.sql("SELECT count(*) FROM ev.db.altered WHERE score IS NULL")
      .head().getLong(0) == 2L)
    spark.sql("INSERT INTO ev.db.altered VALUES (3, 'c', 9.5)")
    assert(spark.sql("SELECT score FROM ev.db.altered WHERE id = 3")
      .head().getDouble(0) == 9.5)
    // pre-alter snapshot time-travels with the narrow schema
    assert(spark.sql("SELECT * FROM ev.db.altered VERSION AS OF 1")
      .columns.toSeq == Seq("id", "label"))
  }

  test("SQL ALTER keeps the API's guards: equality-delete key columns and property validation") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.eqkeyed")
    spark.sql("CREATE TABLE ev.db.eqkeyed (id BIGINT, label STRING)")
    spark.sql("INSERT INTO ev.db.eqkeyed VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val t = SnapshotTable.load(spark, s"$wh/db/eqkeyed")
    t.equalityDelete(Seq(2L).toDF("id"))
    val version = t.latestVersion
    def refused(sql: String, msg: String): Unit = {
      def msgs(x: Throwable): Seq[String] =
        if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
      val ex = intercept[Exception](spark.sql(sql))
      assert(msgs(ex).exists(_.contains(msg)), msgs(ex))
    }
    refused("ALTER TABLE ev.db.eqkeyed RENAME COLUMN id TO key",
      "live equality-delete files key on it")
    refused("ALTER TABLE ev.db.eqkeyed DROP COLUMN id",
      "live equality-delete files key on it")
    refused("ALTER TABLE ev.db.eqkeyed SET TBLPROPERTIES " +
      s"('${SnapshotTable.MaxEqDeleteFiles}' = 'zero')", "must be a positive integer")
    assert(t.latestVersion == version)
    assert(spark.sql("SELECT id FROM ev.db.eqkeyed").as[Long].collect().sorted
      .toSeq == Seq(1L, 3L))
    // a column no delete keys on still renames
    spark.sql("ALTER TABLE ev.db.eqkeyed RENAME COLUMN label TO tag")
    assert(spark.sql("SELECT tag FROM ev.db.eqkeyed ORDER BY id").as[String]
      .collect().toSeq == Seq("a", "c"))
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, old files readable, compact normalizes") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.renamed")
    spark.sql("CREATE TABLE ev.db.renamed (id BIGINT, amount DOUBLE)")
    spark.sql("INSERT INTO ev.db.renamed VALUES (1, 10.0), (2, 20.0)")
    val filesBefore = {
      val t = SnapshotTable.load(spark, s"$wh/db/renamed")
      t.snapshot(t.latestVersion).files.map(_.path).toSet
    }

    spark.sql("ALTER TABLE ev.db.renamed RENAME COLUMN amount TO total")

    // metadata-only: not one data file changed
    val t = SnapshotTable.load(spark, s"$wh/db/renamed")
    assert(t.snapshot(t.latestVersion).files.map(_.path).toSet == filesBefore)

    // pre-rename files read their values under the NEW name
    assert(spark.sql("SELECT * FROM ev.db.renamed").columns.toSeq == Seq("id", "total"))
    assert(spark.sql("SELECT sum(total) FROM ev.db.renamed").head().getDouble(0) == 30.0)
    assert(spark.sql("SELECT total FROM ev.db.renamed WHERE id = 2")
      .head().getDouble(0) == 20.0)

    // writes after the rename use the new name; both generations union
    spark.sql("INSERT INTO ev.db.renamed VALUES (3, 30.0)")
    assert(spark.sql("SELECT sum(total) FROM ev.db.renamed").head().getDouble(0) == 60.0)
    assert(spark.sql("SELECT count(*) FROM ev.db.renamed WHERE total > 15.0")
      .head().getLong(0) == 2L)

    // time travel BEFORE the rename sees the old column name and values
    val pre = spark.sql("SELECT * FROM ev.db.renamed VERSION AS OF 1")
    assert(pre.columns.toSeq == Seq("id", "amount"))
    assert(pre.agg(sum(col("amount"))).head().getDouble(0) == 30.0)

    // chained rename: total -> grand_total resolves through both hops
    spark.sql("ALTER TABLE ev.db.renamed RENAME COLUMN total TO grand_total")
    assert(spark.sql("SELECT sum(grand_total) FROM ev.db.renamed")
      .head().getDouble(0) == 60.0)

    // UPDATE is refused while pre-rename files are live, with the fix named
    val e = intercept[Exception] {
      spark.sql("UPDATE ev.db.renamed SET grand_total = 0 WHERE id = 1")
    }
    assert(e.getMessage.contains("compact"), e.getMessage)

    // compaction rewrites every file under the current names: the plain
    // fast paths (and row-level ops) come back, values unchanged
    SnapshotTable.load(spark, s"$wh/db/renamed").compact()
    val tc = SnapshotTable.load(spark, s"$wh/db/renamed")
    assert(!SnapshotTable.needsRenameMapping(tc.snapshot(tc.latestVersion)))
    assert(spark.sql("SELECT sum(grand_total) FROM ev.db.renamed")
      .head().getDouble(0) == 60.0)
    spark.sql("UPDATE ev.db.renamed SET grand_total = 99.0 WHERE id = 1")
    assert(spark.sql("SELECT grand_total FROM ev.db.renamed WHERE id = 1")
      .head().getDouble(0) == 99.0)

    // resurrection guard: names any generation used are off limits
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.renamed RENAME COLUMN grand_total TO amount")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.renamed ADD COLUMN amount DOUBLE")
    }
  }

  test("RENAME COLUMN: programmatic reads, incremental reads, and DELETE stay correct") {
    val loc = scratch("rename-prog")
    val t = SnapshotTable.create(spark, loc,
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    t.renameColumn("v", "score")
    t.append(Seq((3L, 3.0)).toDF("id", "score"))

    assert(t.read().columns.toSeq == Seq("id", "score"))
    assert(t.read().agg(sum(col("score"))).head().getDouble(0) == 6.0)

    // incremental read crossing the alter commit: no rows move, so the
    // appends-only delta is exactly the new file, under the new name
    val delta = t.appendsSince(0)
    assert(delta.columns.toSeq == Seq("id", "score"))
    assert(delta.select("id").as[Long].collect().toSeq == Seq(3L))

    // DELETE rewrites through the rename-aware read path
    val cat = "evr"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      loc.stripSuffix("/rename-prog"))
    spark.sql(s"DELETE FROM $cat.`rename-prog` WHERE score = 1.0")
    assert(t.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))

    // partition source columns cannot be renamed
    val ploc = scratch("rename-part")
    val pt = SnapshotTable.create(spark, ploc,
      Seq((1L, "a")).toDF("id", "grp"), partitionCols = Seq("grp"))
    intercept[IllegalArgumentException] { pt.renameColumn("grp", "g2") }
  }

  test("RENAME COLUMN on a partitioned table: layout intact, compact normalizes") {
    val loc = scratch("rename-part-compact")
    val t = SnapshotTable.create(spark, loc,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0))
        .toDF("id", "grp", "amount"),
      partitionCols = Seq("grp"))
    t.renameColumn("amount", "total")
    t.append(Seq((4L, "b", 40.0)).toDF("id", "grp", "total"))
    // mixed generations read correctly, partition filter still prunes
    assert(t.read().agg(sum(col("total"))).head().getDouble(0) == 100.0)
    assert(t.read().filter(col("grp") === "a")
      .agg(sum(col("total"))).head().getDouble(0) == 40.0)
    // compaction restages through the partitioned layout under the NEW
    // names: single-generation reads return, per-partition files remain
    t.compact()
    val snap = t.snapshot(t.latestVersion)
    assert(!SnapshotTable.needsRenameMapping(snap))
    assert(snap.files.forall(_.path.contains("grp=")))
    assert(t.read().agg(sum(col("total"))).head().getDouble(0) == 100.0)
  }

  test("scoped overwrite after RENAME COLUMN carries pre-rename rows intact") {
    // regression: replaceWhere used to read the rewrite files with the
    // DECLARED schema, nulling the renamed column in every carried row
    val loc = scratch("rename-rw")
    val t = SnapshotTable.create(spark, loc,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amount"))
    t.renameColumn("amount", "total")
    // replace ONLY id=2; ids 1 and 3 live in a pre-rename file and must
    // carry their values under the new name, not null
    t.replaceWhere(col("id") === 2L, Seq((2L, 99.0)).toDF("id", "total"))
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)), s"got $got")
  }

  test("multi-change ALTER is atomic: a failing change commits nothing") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.atomic_alter")
    spark.sql("CREATE TABLE ev.db.atomic_alter (id BIGINT, v DOUBLE)")
    val before = SnapshotTable.load(spark, s"$wh/db/atomic_alter").latestVersion
    // second column collides → the WHOLE statement must fail with no commit
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.atomic_alter ADD COLUMNS (x INT, v INT)")
    }
    val t = SnapshotTable.load(spark, s"$wh/db/atomic_alter")
    assert(t.latestVersion == before, "failed ALTER must not commit")
    assert(!spark.table("ev.db.atomic_alter").columns.contains("x"))
    // and a valid multi-add lands as ONE snapshot
    spark.sql("ALTER TABLE ev.db.atomic_alter ADD COLUMNS (x INT, y INT)")
    assert(SnapshotTable.load(spark, s"$wh/db/atomic_alter").latestVersion == before + 1)
    assert(spark.table("ev.db.atomic_alter").columns.toSeq == Seq("id", "v", "x", "y"))
  }

  test("ALTER TABLE DROP COLUMN: schema-only, time travel keeps the column") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.dropped")
    spark.sql("CREATE TABLE ev.db.dropped (id BIGINT, junk STRING, keep DOUBLE)")
    spark.sql("INSERT INTO ev.db.dropped VALUES (1, 'x', 1.5), (2, 'y', 2.5)")
    spark.sql("ALTER TABLE ev.db.dropped DROP COLUMN junk")
    assert(spark.sql("SELECT * FROM ev.db.dropped").columns.toSeq == Seq("id", "keep"))
    assert(spark.sql("SELECT sum(keep) FROM ev.db.dropped").head().getDouble(0) == 4.0)
    // the bytes are still there for time travel
    assert(spark.sql("SELECT junk FROM ev.db.dropped VERSION AS OF 1")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
    // re-adding the dropped name would resurrect old values — refused
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.dropped ADD COLUMN junk STRING")
    }
  }

  test("partitioned CREATE TABLE writes Hive layout and prunes partitions") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.part_days")
    spark.sql(
      "CREATE TABLE ev.db.part_days (id BIGINT, day DATE, v DOUBLE) PARTITIONED BY (day)")
    spark.sql(
      """INSERT INTO ev.db.part_days VALUES
        |(1, DATE '2024-01-01', 1.0), (2, DATE '2024-01-01', 2.0),
        |(3, DATE '2024-01-02', 3.0), (4, DATE '2024-01-03', 4.0)""".stripMargin)
    // Hive layout on disk
    val t = SnapshotTable.load(spark, s"$wh/db/part_days")
    assert(t.partitionCols == Seq("day"))
    assert(t.snapshot(t.latestVersion).files.forall(_.path.contains("day=")))
    // partition values are readable back as a column
    assert(spark.sql("SELECT count(*) FROM ev.db.part_days WHERE day = DATE '2024-01-01'")
      .head().getLong(0) == 2L)
    // a day-equality scan reads only that partition's files
    val total = t.snapshot(t.latestVersion).files.size
    val hit = scannedFiles("SELECT * FROM ev.db.part_days WHERE day = DATE '2024-01-02'")
    assert(total >= 3, s"expected >=3 partition files, got $total")
    assert(hit < total, s"expected partition pruning: $hit of $total")
    assert(spark.sql("SELECT sum(v) FROM ev.db.part_days WHERE day >= DATE '2024-01-02'")
      .head().getDouble(0) == 7.0)
  }

  test("partitioned programmatic append + time travel keep partition values") {
    val loc = scratch("part-prog")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "bucket", "v")
    val t = SnapshotTable.create(spark, loc, df, partitionCols = Seq("bucket"))
    t.append(Seq((4L, "c", 4.0)).toDF("id", "bucket", "v"))
    assert(t.read().count() == 4)
    assert(t.read().filter($"bucket" === "a").count() == 2)
    assert(t.readVersion(0).count() == 3)
    // partition value stats recorded as min==max → prunable
    val withA = t.snapshot(t.latestVersion).files
      .filter(f => f.stats.get("bucket").exists(s => s.min == "a" && s.max == "a"))
    assert(withA.nonEmpty)
  }

  test("ALTER COLUMN TYPE widens int->bigint / float->double, metadata-only") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.widen")
    spark.sql("CREATE TABLE ev.db.widen (id INT, ratio FLOAT)")
    spark.sql("INSERT INTO ev.db.widen VALUES (1, 1.5), (2, 2.5)")
    val filesBefore = {
      val t = SnapshotTable.load(spark, s"$wh/db/widen")
      t.snapshot(t.latestVersion).files.map(_.path).toSet
    }
    spark.sql("ALTER TABLE ev.db.widen ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE ev.db.widen ALTER COLUMN ratio TYPE DOUBLE")
    // metadata-only: the narrow files are read upcast, untouched on disk
    val t = SnapshotTable.load(spark, s"$wh/db/widen")
    assert(t.snapshot(t.latestVersion).files.map(_.path).toSet == filesBefore)
    val schema = spark.table("ev.db.widen").schema
    assert(schema("id").dataType.simpleString == "bigint")
    assert(schema("ratio").dataType.simpleString == "double")
    assert(spark.sql("SELECT sum(id) FROM ev.db.widen").head().getLong(0) == 3L)
    // values beyond int range land fine post-widening
    spark.sql(s"INSERT INTO ev.db.widen VALUES (${Long.MaxValue - 1}, 9.5)")
    assert(spark.sql("SELECT max(id) FROM ev.db.widen").head().getLong(0) ==
      Long.MaxValue - 1)
    // old + new generations aggregate together
    assert(spark.sql("SELECT count(*) FROM ev.db.widen WHERE ratio > 2.0")
      .head().getLong(0) == 2L)
    // time travel before the widening keeps the narrow schema
    assert(spark.sql("SELECT * FROM ev.db.widen VERSION AS OF 1")
      .schema("id").dataType.simpleString == "int")
    // narrowing and cross-family changes are refused
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.widen ALTER COLUMN id TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.widen ALTER COLUMN ratio TYPE STRING")
    }
    // partition source columns are off limits (bucket hashes differ by type)
    spark.sql("DROP TABLE IF EXISTS ev.db.widen_part")
    spark.sql(
      """CREATE TABLE ev.db.widen_part (id INT, v DOUBLE)
        |PARTITIONED BY (bucket(4, id))""".stripMargin)
    intercept[Exception] {
      spark.sql("ALTER TABLE ev.db.widen_part ALTER COLUMN id TYPE BIGINT")
    }
  }

  test("months/years time transforms partition by their since-1970 ordinals") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.by_month")
    spark.sql(
      """CREATE TABLE ev.db.by_month (id BIGINT, ts TIMESTAMP, v DOUBLE)
        |PARTITIONED BY (months(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO ev.db.by_month VALUES
        |(1, TIMESTAMP '2024-01-05 00:00:00', 1.0),
        |(2, TIMESTAMP '2024-01-25 12:00:00', 2.0),
        |(3, TIMESTAMP '2024-02-02 08:00:00', 3.0),
        |(4, TIMESTAMP '2023-12-31 23:59:59', 4.0)""".stripMargin)
    val t = SnapshotTable.load(spark, s"$wh/db/by_month")
    val files = t.snapshot(t.latestVersion).files
    // three distinct months → three files, ordinal = (y-1970)*12 + m-1
    assert(files.size == 3, s"expected 3 month files, got ${files.size}")
    val ordinals = files.flatMap(_.stats.get("months(ts)").map(_.min.toInt)).sorted
    assert(ordinals == Seq((2023 - 1970) * 12 + 11, (2024 - 1970) * 12 + 0,
      (2024 - 1970) * 12 + 1), s"month ordinals: $ordinals")
    assert(spark.sql("SELECT sum(v) FROM ev.db.by_month").head().getDouble(0) == 10.0)

    // years(ts) on a DATE column too
    spark.sql("DROP TABLE IF EXISTS ev.db.by_year")
    spark.sql(
      """CREATE TABLE ev.db.by_year (id BIGINT, d DATE)
        |PARTITIONED BY (years(d))""".stripMargin)
    spark.sql(
      "INSERT INTO ev.db.by_year VALUES (1, DATE '2023-06-01'), (2, DATE '2024-06-01')")
    val ty = SnapshotTable.load(spark, s"$wh/db/by_year")
    val yOrd = ty.snapshot(ty.latestVersion).files
      .flatMap(_.stats.get("years(d)").map(_.min.toInt)).sorted
    assert(yOrd == Seq(53, 54), s"year ordinals: $yOrd")
    assert(spark.sql("SELECT count(*) FROM ev.db.by_year").head().getLong(0) == 2)

    // hours(ts): one slice per epoch hour
    spark.sql("DROP TABLE IF EXISTS ev.db.by_hour")
    spark.sql(
      """CREATE TABLE ev.db.by_hour (id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (hours(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO ev.db.by_hour VALUES
        |(1, TIMESTAMP '2024-01-01 05:10:00'),
        |(2, TIMESTAMP '2024-01-01 05:50:00'),
        |(3, TIMESTAMP '2024-01-01 06:05:00')""".stripMargin)
    val th = SnapshotTable.load(spark, s"$wh/db/by_hour")
    val hFiles = th.snapshot(th.latestVersion).files
    assert(hFiles.size == 2, s"expected 2 hour files, got ${hFiles.size}")
    val hOrd = hFiles.flatMap(_.stats.get("hours(ts)").map(_.min.toLong)).sorted
    val base = java.time.Instant.parse("2024-01-01T05:00:00Z").getEpochSecond / 3600
    assert(hOrd == Seq(base, base + 1), s"hour ordinals: $hOrd vs base $base")
    assert(spark.sql("SELECT count(*) FROM ev.db.by_hour").head().getLong(0) == 3)

    // a non-temporal source column is refused at CREATE time, as is
    // hours() of a DATE
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE ev.db.bad_days (id BIGINT, name STRING)
          |PARTITIONED BY (days(name))""".stripMargin)
    }
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE ev.db.bad_hours (id BIGINT, d DATE)
          |PARTITIONED BY (hours(d))""".stripMargin)
    }
  }

  test("time transforms accept TIMESTAMP_NTZ sources (hours included)") {
    wh
    // hours(ntz) used to pass CREATE then fail the first append with a
    // raw cast error (NTZ has no direct cast to LONG) — every transform
    // must write the same ordinals the FunctionCatalog mirror computes
    // from the NTZ's raw micros
    for ((unit, expect) <- Seq(
        "hours" -> Seq(
          java.time.Instant.parse("2024-01-01T05:00:00Z").getEpochSecond / 3600,
          java.time.Instant.parse("2024-01-01T06:00:00Z").getEpochSecond / 3600),
        "days" -> Seq(java.time.LocalDate.parse("2024-01-01").toEpochDay),
        "months" -> Seq(((2024 - 1970) * 12 + 0).toLong),
        "years" -> Seq((2024 - 1970).toLong))) {
      spark.sql(s"DROP TABLE IF EXISTS ev.db.ntz_$unit")
      spark.sql(
        s"""CREATE TABLE ev.db.ntz_$unit (id BIGINT, ts TIMESTAMP_NTZ)
           |PARTITIONED BY ($unit(ts))""".stripMargin)
      spark.sql(
        s"""INSERT INTO ev.db.ntz_$unit VALUES
           |(1, TIMESTAMP_NTZ '2024-01-01 05:10:00'),
           |(2, TIMESTAMP_NTZ '2024-01-01 06:05:00')""".stripMargin)
      val t = SnapshotTable.load(spark, s"$wh/db/ntz_$unit")
      val files = t.snapshot(t.latestVersion).files
      // date-typed stats ("days") store epoch days; the rest are longs
      val ords = files
        .flatMap(_.stats.get(s"$unit(ts)").map(_.min.toLong))
        .distinct.sorted
      assert(ords == expect.sorted,
        s"$unit(TIMESTAMP_NTZ) ordinals: $ords, expected $expect")
      assert(spark.sql(s"SELECT count(*) FROM ev.db.ntz_$unit")
        .head().getLong(0) == 2)
    }
  }

  test("timestamp manifest stats prune files on ts predicates") {
    wh
    val e = graft.Tables.load(spark, sf, "events")
    val loc = s"$wh/db/ev_ts_stats"
    graft.Tables.deleteRecursively(loc)
    val t = SnapshotTable.create(spark, loc,
      e.filter(col("ts") < "2024-01-10").coalesce(1))
    t.append(e.filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-20").coalesce(1))
    t.append(e.filter(col("ts") >= "2024-01-20").coalesce(1))
    val files = t.snapshot(t.latestVersion).files
    assert(files.size == 3)
    assert(files.forall(_.stats.get("ts").exists(_.typ == "ts")),
      s"ts stats missing: ${files.map(_.stats.keySet)}")
    assert(scannedFiles("SELECT * FROM ev.db.ev_ts_stats") == 3)
    assert(scannedFiles(
      "SELECT * FROM ev.db.ev_ts_stats WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'") == 1)
    assert(scannedFiles(
      "SELECT * FROM ev.db.ev_ts_stats WHERE ts < TIMESTAMP '2024-01-05 00:00:00'") == 1)
    // correctness unaffected
    val n = spark.sql(
      "SELECT count(*) FROM ev.db.ev_ts_stats WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'")
      .head().getLong(0)
    assert(n == e.filter(col("ts") >= "2024-01-25").count())
  }

  test("DELETE keeps rows where the predicate is NULL (SQL semantics)") {
    wh
    spark.sql("DROP TABLE IF EXISTS ev.db.del_nulls")
    spark.sql("CREATE TABLE ev.db.del_nulls (id BIGINT, c BIGINT)")
    spark.sql("INSERT INTO ev.db.del_nulls VALUES (1, 5), (2, 6), (3, NULL)")
    spark.sql("DELETE FROM ev.db.del_nulls WHERE c = 5")
    // row 3 (c NULL) must survive: DELETE removes only predicate-TRUE rows
    assert(spark.sql("SELECT id FROM ev.db.del_nulls ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("compact rebases over a concurrent append instead of dropping it") {
    val loc = scratch("compact-rebase")
    val t = SnapshotTable.create(spark, loc, spark.range(100).toDF("id").repartition(4))
    // simulate an append landing between compact's read and its commit:
    // stage the rewrite against v0, append v1, then commit the compaction
    val winner = SnapshotTable.load(spark, loc)
    val appended = new Thread(() =>
      winner.append(spark.range(100, 150).toDF("id")))
    // compact() itself re-resolves the base inside the retry loop; with the
    // append committed first, its files must survive the compaction swap
    appended.start(); appended.join()
    t.compact(targetBytes = 1L << 30)
    assert(t.read().count() == 150)
  }

  test("copy-on-write replace aborts when the table moved underneath") {
    val loc = scratch("cow-conflict")
    val t = SnapshotTable.create(spark, loc, spark.range(10).toDF("id"))
    val baseV = t.latestVersion
    t.append(spark.range(10, 20).toDF("id")) // concurrent commit
    intercept[java.util.ConcurrentModificationException] {
      t.replace(baseV, spark.range(5).toDF("id"))
    }
    assert(t.read().count() == 20) // nothing lost
  }

  test("no localCheckpoint remains in the copy-on-write paths") {
    // upsert / delete / migrate stage to files and swap — a table-sized
    // block-manager copy would not survive executor loss at 100 TB
    val srcs = Seq("SnapshotTable.scala", "GraftTable.scala", "Tiering.scala")
      .map(f => java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"src/main/scala/graft/table/$f")))
    assert(!srcs.exists(_.contains("localCheckpoint")))
  }

  test("tier migration keeps NULL-ts rows in the hot tier") {
    val hotLoc = scratch("tier-null-hot")
    val coldLoc = scratch("tier-null-cold")
    val df = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      (2L, Some(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))),
      (3L, None)).toDF("id", "ts")
    SnapshotTable.create(spark, hotLoc, df)
    val (hot, cold) = Tiering.migrate(spark, hotLoc, coldLoc, "2024-01-15 00:00:00")
    assert(cold.read().select("id").as[Long].collect().toSeq == Seq(1L))
    assert(hot.read().select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
  }
}

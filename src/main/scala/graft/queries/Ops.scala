package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.table.SnapshotTable

/** Table-layer, streaming, and governance operator queries. Each builds
  * its table-under-test deterministically from the driver's `events` table
  * in scratch space, so the DuckDB oracle can express the expected result
  * directly against `events` — the snapshot-log machinery is what's under
  * test, the data contract stays SQL-checkable.
  */
object Ops {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
  private def tag(dir: String): String = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Exact order-independent sum of the 2-decimal `value` column. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  // ------------------------------------------------------------- q07
  // Time travel (T4/T5, reference performance_comparison.sql:129-131):
  // snapshot v0 = events with event_id < 8000, v1 appends the rest; the
  // query reads VERSION AS OF 0 — "the table as of yesterday" with a
  // deterministic split standing in for wall-clock age.
  def q07(s: SparkSession, dir: String): DataFrame = {
    val loc = Tables.scratch(s"snaptab/events_${tag(dir)}")
    Tables.deleteRecursively(loc)
    val e = ev(s, dir)
    val t = SnapshotTable.create(s, loc, e.filter(col("event_id") < 8000))
    t.append(e.filter(col("event_id") >= 8000))
    t.readVersion(0).agg(count(lit(1)).as("events_1day_ago"))
  }

  val q07Sql =
    "SELECT count(*) AS events_1day_ago FROM events WHERE event_id < 8000"

  // ------------------------------------------------------------- q41
  // Governance (G1/G2): row policy restricts customer to one segment,
  // mask policy blanks the name column; the governed view is what an
  // unprivileged reader sees.
  def q41(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Governance
    Governance.clearPolicies()
    Governance.setPrivileged(s, false)
    Governance.addRowPolicy(
      Governance.RowPolicy("customer", "c_mktsegment = 'BUILDING'"))
    Governance.addMaskPolicy(Governance.MaskPolicy("customer", "c_name"))
    Governance.secureView(s, "customer", Tables.load(s, dir, "customer"))
      .select(col("c_custkey").as("user_id"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
      .orderBy("user_id")
  }

  val q41Sql =
    """SELECT c_custkey AS user_id, '***MASKED***' AS name,
      |       c_mktsegment AS segment
      |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------- q42
  // Streaming ingest + streaming aggregate (T1/T2/S8): the
  // date-partitioned events layout is consumed as a file stream in
  // micro-batches (maxFilesPerTrigger plays the Firehose buffer) and the
  // grouped aggregate is maintained in streaming state; result must equal
  // the batch recompute — which is exactly what the oracle checks. The
  // complete-mode result lands in a graft snapshot table through the
  // sink's truncate path, on a cloned session (no caller conf flips).
  def q42(s: SparkSession, dir: String): DataFrame = {
    val pdir = Core.partitionedEventsDir(s, dir)
    // Buffer sizing (r22): a complete-mode aggregate re-emits the FULL
    // result in every data batch, so the final table is identical under
    // ANY batch split — batch count is pure fixed cost here (state-store
    // commit + sink truncate swap per batch). Two batches keep the
    // cross-batch state-merge property this operator demonstrates while
    // halving the per-batch machinery the r21 profile measured
    // (~0.4-0.5 s/batch). The file count comes from a driver-local walk
    // of the staged layout — the same number the file-stream source is
    // about to list anyway. First-seen dedup (q61) is deliberately NOT
    // sized this way: there batch ORDER is semantics.
    val nFiles = {
      val s0 = java.nio.file.Files.walk(java.nio.file.Paths.get(pdir))
      try s0.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s0.close()
    }
    graft.streaming.Streams
      .streamingAggregate(s, pdir, s"q42_agg_${tag(dir)}",
        maxFilesPerTrigger = math.max(1, math.ceil(nFiles / 2.0).toInt))
      .select("event_type", "event_count", "total_value")
      .orderBy("event_type")
  }

  val q42Sql =
    """SELECT event_type, count(*) AS event_count,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q43
  // Materialized-view refresh (T3): full recompute published through the
  // snapshot-table committer (readers see old MV or new MV, never half).
  def q43(s: SparkSession, dir: String): DataFrame = {
    val mvDir = Tables.scratch(s"mv/daily_stats_${tag(dir)}")
    Tables.deleteRecursively(mvDir)
    graft.streaming.Streams.refreshMaterializedView(s, mvDir, {
      ev(s, dir)
        .groupBy(to_date(col("ts")).as("activity_date"))
        .agg(count(lit(1)).as("event_count"),
          countDistinct(col("user_id")).as("unique_users"))
    }).orderBy("activity_date")
  }

  val q43Sql =
    """SELECT CAST(ts AS DATE) AS activity_date, count(*) AS event_count,
      |       count(DISTINCT user_id) AS unique_users
      |FROM events GROUP BY 1 ORDER BY activity_date""".stripMargin

  // ------------------------------------------------------------- q61
  // Streaming stateful dedup (flatMapGroupsWithState): the documents
  // corpus arrives as a multi-file stream, one micro-batch per file, and
  // custom per-hash state suppresses every re-sighting of already-seen
  // content across batches. The first-seen stream lands in a graft
  // snapshot TABLE through the exactly-once streaming sink (one
  // epoch-tagged snapshot per micro-batch — files→table, the reference's
  // ingest premise; never a driver-side memory sink), and the count reads
  // back from that table. The count of emitted (first-seen) documents
  // must equal the batch distinct-content count — order-insensitive, so
  // the oracle checks it exactly even though WHICH duplicate id survives
  // depends on arrival order.
  def q61(s: SparkSession, dir: String): DataFrame = {
    val srcDir = Tables.scratch(s"streamdocs/${tag(dir)}")
    Tables.deleteRecursively(srcDir)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(4)
      .write.parquet(srcDir)
    graft.streaming.Streams
      .dedupStream(s, srcDir, s"q61_dedup_${tag(dir)}")
      .agg(count(lit(1)).as("n_unique"))
  }

  val q61Sql =
    "SELECT count(DISTINCT text) AS n_unique FROM documents"

  // ------------------------------------------------------------- q44
  // Compaction (T7): seed the table as a small-files layout (the
  // reference's 144-files/day problem), bin-pack to the target size, and
  // verify the compacted table still holds the exact row multiset.
  def q44(s: SparkSession, dir: String): DataFrame = {
    val loc = Tables.scratch(s"snaptab/compact_${tag(dir)}")
    Tables.deleteRecursively(loc)
    val t = SnapshotTable.create(s, loc, ev(s, dir).repartition(64))
    t.compact(targetBytes = 8L * 1024 * 1024)
    t.read().agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
  }

  val q44Sql =
    """SELECT count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events""".stripMargin

  // ------------------------------------------------------------- q57
  // Z-order compaction (T7 + the reference's clustering-key layout): same
  // rewrite as q44 but Morton-interleaved on (user_id, value), so the
  // compacted files' min/max stats prune point/range predicates on EITHER
  // column (ZOrderSpec proves the pruning; this query proves the rewrite
  // preserves the exact row multiset through the verify gate). The user_id
  // probe below reads through the z-ordered table, so the answer ALSO
  // flows through the pruned layout.
  def q57(s: SparkSession, dir: String): DataFrame = {
    val loc = Tables.scratch(s"snaptab/zorder_${tag(dir)}")
    Tables.deleteRecursively(loc)
    val t = SnapshotTable.create(s, loc, ev(s, dir).repartition(32))
    t.compact(targetBytes = 4L * 1024 * 1024, zorderBy = Seq("user_id", "value"))
    t.read().filter(col("user_id") < 50)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
  }

  val q57Sql =
    """SELECT count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events WHERE user_id < 50""".stripMargin

  // ------------------------------------------------------------- q57b
  // WRITE SORT ORDER (Iceberg's WRITE ORDERED BY surface, the
  // stats-tightness lever): declare `write.sort-order = user_id` through
  // SQL, append — the staged write range-distributes + sorts so each
  // file's user_id min/max are disjoint and the verified point-filtered
  // read prunes whole files (the manifest-level win Z-order generalizes
  // to multiple dimensions). The query asserts the layout actually
  // prunes before answering; the oracle recomputes from raw events.
  def q57b(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_sorted_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, value DOUBLE)""".stripMargin)
    s.sql(s"ALTER TABLE graft.db.$name SET TBLPROPERTIES " +
      "('write.sort-order' = 'user_id')")
    ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
      .repartition(8)
      .writeTo(s"graft.db.$name").append()
    // layout sanity: a point predicate prunes to a strict subset
    val t = SnapshotTable.load(s, s"$wh/db/$name")
    val files = t.head.files.filter(_.rows > 0)
    val kept = graft.table.StatsPruning.prune(files,
      Seq(org.apache.spark.sql.sources.EqualTo("user_id", 7L)))
    require(files.size >= 4 && kept.size < files.size,
      s"q57b: sorted layout must prune (kept ${kept.size}/${files.size})")
    s.sql(
      s"""SELECT count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name WHERE user_id < 50""".stripMargin)
  }

  val q57bSql =
    """SELECT count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events WHERE user_id < 50""".stripMargin

  // ------------------------------------------------------------- q58
  // SQL MERGE INTO through the DSv2 row-level operation protocol
  // (group-based copy-on-write): seed the catalog table with the first
  // slice of events, merge a source that overlaps it — deletes every
  // tenth overlapped row, updates the rest of the overlap, inserts the
  // tail — and read the merged table back. The oracle recomputes the
  // same three-way split directly over `events`.
  def q58(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_merge_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, value DOUBLE)""".stripMargin)
    val e = ev(s, dir)
    e.filter(col("event_id") < 5000)
      .select(col("event_id"), col("user_id"), col("value"))
      .writeTo(s"graft.db.$name").append()
    e.filter(col("event_id") >= 4000)
      .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
      .createOrReplaceTempView(s"merge_src_${tag(dir)}")
    s.sql(
      s"""MERGE INTO graft.db.$name t USING merge_src_${tag(dir)} s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND s.event_id % 10 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name""".stripMargin)
  }

  val q58Sql =
    """SELECT count(*) AS n_rows,
      |       CAST(sum(CAST(CASE WHEN event_id < 4000 THEN value
      |                          ELSE value * 2 END AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE NOT (event_id >= 4000 AND event_id < 5000 AND event_id % 10 = 0)""".stripMargin

  // ------------------------------------------------------------- q58b
  // Merge-on-read row-level ops (Iceberg v2 position deletes, the deck's
  // ACID claims `aws-community-builders-presentation.md:111-121` without
  // the copy-on-write scale cliff): SQL DELETE under
  // `write.delete.mode=merge-on-read` records (file,pos) entries instead
  // of rewriting files, mergeMor upserts as position-delete + append, and
  // the final SQL read runs the delete-applied MOR scan. The oracle
  // recomputes the same end state from raw events.
  def q58b(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_mor_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)""".stripMargin)
    val e = ev(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    e.writeTo(s"graft.db.$name").append()
    val t = SnapshotTable.load(s, s"$wh/db/$name")
    t.setProperties(Map(SnapshotTable.DeleteMode -> "merge-on-read"))
    s.sql(s"DELETE FROM graft.db.$name WHERE event_type = 'purchase' AND value < 50")
    // sanity: the DELETE must have gone merge-on-read (no file rewrite)
    require(t.hasDeletes, s"q58b: expected a position-delete ledger on $name")
    t.mergeMor(e.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 3), Seq("event_id"))
    s.sql(
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name""".stripMargin)
  }

  // merge semantics: every id%10==0 row ends at value*3 (previously
  // MOR-deleted ones are re-inserted by the MERGE); other rows survive
  // iff the MOR DELETE predicate missed them
  val q58bSql =
    """WITH merged AS (
      |  SELECT CASE WHEN event_id % 10 = 0 THEN value * 3 ELSE value END AS value,
      |         CASE WHEN event_id % 10 = 0 THEN FALSE
      |              ELSE (event_type = 'purchase' AND value < 50) END AS deleted
      |  FROM events)
      |SELECT count(*) AS n_rows,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM merged WHERE NOT deleted""".stripMargin

  // ------------------------------------------------------------- q58c
  // EQUALITY deletes (Iceberg v2's second merge-on-read flavor — the
  // streaming-CDC upsert primitive): upsertMor commits ONE snapshot with
  // an equality-delete file on the key plus the update rows as new files,
  // WITHOUT ever reading the base table (O(batch) at any table size,
  // where q58b's position deletes still pay a key-probe scan); a
  // standalone equalityDelete then kills two users' rows everywhere, and
  // compaction folds the whole ledger back to plain files. The verified
  // read runs AFTER the fold, so the oracle proves upsert + equality
  // delete + fold compose to the exact recomputed state.
  def q58c(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val loc = Tables.scratch(s"snaptab/equpsert_${tag(dir)}")
    Tables.deleteRecursively(loc)
    val e = ev(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val t = SnapshotTable.create(s, loc, e)
    t.upsertMor(e.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 3), Seq("event_id"))
    t.equalityDelete(Seq(1L, 2L).toDF("user_id"))
    require(t.hasDeletes, "q58c: expected a live equality-delete ledger")
    t.compact(targetBytes = 64L * 1024 * 1024)
    require(!t.hasDeletes, "q58c: compaction must fold the equality ledger")
    t.read().agg(count(lit(1)).as("n_rows"),
      dsum(col("value")).as("total_value"))
  }

  val q58cSql =
    """WITH merged AS (
      |  SELECT user_id,
      |         CASE WHEN event_id % 10 = 0 THEN value * 3 ELSE value END AS value
      |  FROM events)
      |SELECT count(*) AS n_rows,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM merged WHERE user_id NOT IN (1, 2)""".stripMargin

  // ------------------------------------------------------------- q59
  // Snapshot-log introspection through SQL metadata tables (the Iceberg
  // `t.history` surface, reference
  // `aws-community-builders-presentation.md:229-320`): CREATE + two
  // INSERTs, then read the commit history back as a relation.
  def q59(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_hist_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, value DOUBLE)""".stripMargin)
    val e = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
    e.filter(col("event_id") < 8000).writeTo(s"graft.db.$name").append()
    e.filter(col("event_id") >= 8000).writeTo(s"graft.db.$name").append()
    s.sql(
      s"""SELECT version, operation, n_rows
         |FROM graft.db.$name.history ORDER BY version""".stripMargin)
  }

  // history's n_rows is the SNAPSHOT total (table size as of that
  // version), not the commit delta — hence cumulative counts here
  val q59Sql =
    """SELECT CAST(0 AS INTEGER) AS version, 'create' AS operation, CAST(0 AS BIGINT) AS n_rows
      |UNION ALL
      |SELECT 1, 'append', count(*) FROM events WHERE event_id < 8000
      |UNION ALL
      |SELECT 2, 'append', count(*) FROM events
      |ORDER BY version""".stripMargin

  // ------------------------------------------------------------- q45
  // Schema evolution (T8): v0 lacks the `bonus` column, v1 adds it
  // (additive only, old files untouched); the merged read yields nulls
  // for pre-evolution rows.
  def q45(s: SparkSession, dir: String): DataFrame = {
    val loc = Tables.scratch(s"snaptab/evolve_${tag(dir)}")
    Tables.deleteRecursively(loc)
    val e = ev(s, dir)
    val t = SnapshotTable.create(s, loc, e.filter(col("event_id") < 8000))
    t.append(e.filter(col("event_id") >= 8000)
      .withColumn("bonus", (col("value") * 2).cast("double")))
    t.read().agg(
      count(lit(1)).as("n_rows"),
      count(col("bonus")).as("bonus_non_null"),
      dsum(col("bonus")).as("bonus_total"))
  }

  val q45Sql =
    """SELECT count(*) AS n_rows,
      |       count(CASE WHEN event_id >= 8000 THEN 1 END) AS bonus_non_null,
      |       CAST(sum(CASE WHEN event_id >= 8000
      |                     THEN CAST(value * 2 AS DECIMAL(18,2)) END) AS DOUBLE) AS bonus_total
      |FROM events""".stripMargin

  // ------------------------------------------------------------- q48
  // SQL-surface time travel (T4/S7): the same snapshot split as q07, but
  // read through the DSv2 catalog with the reference's own syntax —
  // `VERSION AS OF` — instead of the programmatic API.
  def q48(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val loc = s"$wh/db/events_${tag(dir)}"
    Tables.deleteRecursively(loc)
    val e = ev(s, dir)
    val t = SnapshotTable.create(s, loc, e.filter(col("event_id") < 8000))
    t.append(e.filter(col("event_id") >= 8000))
    s.sql(
      s"""SELECT count(*) AS events_v0, 'VERSION AS OF 0' AS travel_mode
         |FROM graft.db.events_${tag(dir)} VERSION AS OF 0""".stripMargin)
  }

  val q48Sql =
    """SELECT count(*) AS events_v0, 'VERSION AS OF 0' AS travel_mode
      |FROM events WHERE event_id < 8000""".stripMargin

  // ------------------------------------------------------------- q49
  // Bench-metrics enrichment (J3/P8): the reference joins executed-query
  // metrics against system tables by query_id
  // (run_performance_tests.py:86-101, performance_comparison.sql:189-204);
  // here the metrics table is built from in-process probe executions and
  // joined to a broadcast catalog dimension. Result values are
  // deterministic (row counts), so the join is fully oracle-checkable.
  def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = Seq(
      ("count_events", "fact", Tables.load(s, dir, "events").count()),
      ("count_customer", "dim", Tables.load(s, dir, "customer").count()),
      ("count_documents", "corpus", Tables.load(s, dir, "documents").count()))
    val metrics = probes.map { case (n, _, v) => (n, v, "SUCCESS") }
      .toDF("query_name", "result_value", "status")
    val catalog = probes.map { case (n, c, _) => (n, c) }
      .toDF("query_name", "category")
    metrics.join(broadcast(catalog), Seq("query_name"))
      .select("query_name", "category", "result_value", "status")
      .orderBy("query_name")
  }

  val q49Sql =
    """SELECT query_name, category, result_value, status FROM (
      |  SELECT 'count_events' AS query_name, 'fact' AS category,
      |         (SELECT count(*) FROM events) AS result_value, 'SUCCESS' AS status
      |  UNION ALL
      |  SELECT 'count_customer', 'dim', (SELECT count(*) FROM customer), 'SUCCESS'
      |  UNION ALL
      |  SELECT 'count_documents', 'corpus', (SELECT count(*) FROM documents), 'SUCCESS')
      |ORDER BY query_name""".stripMargin

  // ------------------------------------------------------------- q52
  // Warehouse-usage analysis (P8, reference
  // performance_comparison.sql:179-193): per-query elapsed time, bytes
  // scanned, and shuffle volume captured through a QueryExecutionListener
  // into a query-history table, then rolled up by query type — the mirror
  // of the reference's `account_usage.query_history` rollup. The full
  // (nondeterministic) metrics are persisted to the history parquet; the
  // query returns the deterministic rollup: per type, how many queries ran,
  // whether all succeeded, and whether every metric was actually captured —
  // flags that only come out true when the listener really recorded
  // nonzero bytes/shuffle/timing for each probe.
  def q52(s: SparkSession, dir: String): DataFrame = {
    import graft.metrics.QueryMetrics
    val probes = Seq[(String, String, () => DataFrame)](
      ("full_scan_count", "scan", () =>
        ev(s, dir).agg(count(lit(1)).as("n"))),
      ("recent_filter_count", "filter", () =>
        ev(s, dir).filter(col("ts") >= lit(Tables.daysAgo(7)).cast("timestamp"))
          .agg(count(lit(1)).as("n"))),
      ("events_per_type", "aggregate", () =>
        ev(s, dir).groupBy("event_type").agg(count(lit(1)).as("n"))),
      ("profile_enrich", "join", () =>
        ev(s, dir).join(
            Tables.load(s, dir, "customer").hint("shuffle_hash"),
            col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))))
    val history = QueryMetrics.capture(s, probes)
    val histLoc = Tables.scratch(s"metrics/query_history_${tag(dir)}")
    history.write.mode("overwrite").parquet(histLoc)
    s.read.parquet(histLoc)
      .groupBy("query_type")
      .agg(
        countDistinct(col("query_name")).as("query_count"),
        (count(when(col("status") === "SUCCESS", 1)) === countDistinct(col("query_name")))
          .as("all_succeeded"),
        (min(col("bytes_scanned")) > 0).as("bytes_recorded"),
        (min(col("shuffle_bytes")) > 0).as("shuffle_recorded"),
        (min(col("duration_ms")) > 0).as("timing_recorded"))
      .orderBy("query_type")
  }

  // every probe scans parquet and ends in a grouped/global aggregate, so
  // all four metric families must be present for every type
  val q52Sql =
    """SELECT * FROM (
      |  SELECT 'aggregate' AS query_type, CAST(1 AS BIGINT) AS query_count,
      |         true AS all_succeeded, true AS bytes_recorded,
      |         true AS shuffle_recorded, true AS timing_recorded
      |  UNION ALL SELECT 'filter', 1, true, true, true, true
      |  UNION ALL SELECT 'join', 1, true, true, true, true
      |  UNION ALL SELECT 'scan', 1, true, true, true, true)
      |ORDER BY query_type""".stripMargin

  // ------------------------------------------------------------- q53
  // Storage-usage analysis (P8, reference
  // performance_comparison.sql:195-205): per-table file count, row count,
  // and storage presence read from the snapshot MANIFESTS only (filesDF —
  // no data file is opened), mirroring `table_storage_metrics`' metadata-
  // only rollup. Two layouts of the same events table demonstrate the
  // small-files problem the reference frames storage analysis around.
  def q53(s: SparkSession, dir: String): DataFrame = {
    def build(name: String, nParts: Int, compactTo: Option[Long]): DataFrame = {
      val loc = Tables.scratch(s"snaptab/storage_${name}_${tag(dir)}")
      Tables.deleteRecursively(loc)
      val t = SnapshotTable.create(s, loc, ev(s, dir).repartition(nParts))
      compactTo.foreach(target => t.compact(targetBytes = target))
      t.filesDF().agg(
        count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows"),
        (min(col("bytes")) > 0).as("storage_recorded"))
        .select(lit(name).as("table_name"), col("n_files"), col("n_rows"),
          col("storage_recorded"))
    }
    build("events_standard", 8, None)
      .unionByName(build("events_compacted", 8, Some(1L << 40)))
      .orderBy("table_name")
  }

  val q53Sql =
    """SELECT * FROM (
      |  SELECT 'events_standard' AS table_name, CAST(8 AS BIGINT) AS n_files,
      |         count(*) AS n_rows, true AS storage_recorded FROM events
      |  UNION ALL
      |  SELECT 'events_compacted', CAST(1 AS BIGINT), count(*), true FROM events)
      |ORDER BY table_name""".stripMargin

  // ------------------------------------------------------------- q54
  // Multi-engine readability (S12, reference
  // `aws-community-builders-presentation.md:996-1039`): graft writes plain
  // parquet under `data/`, so ANY parquet engine can read a snapshot's
  // files without graft's code. The oracle makes that literal: the DuckDB
  // side of this check aggregates the graft-WRITTEN FILES directly (glob
  // over the table's data dir) while Spark reads through the snapshot log —
  // two engines, same files, same answer. Single-snapshot table, so the
  // data glob is exactly the live file set.
  // The scratch location is deliberately NOT scale-tagged: the query
  // rebuilds the table from the run's own input before the oracle reads
  // the files, so the check is valid at every scale factor.
  def q54(s: SparkSession, dir: String): DataFrame = {
    val loc = Tables.scratch("snaptab/multiengine")
    Tables.deleteRecursively(loc)
    val t = SnapshotTable.create(s, loc, ev(s, dir).repartition(4))
    t.read().groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  val q54Sql = {
    val loc = Tables.scratch("snaptab/multiengine")
    s"""SELECT event_type, count(*) AS n_events,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM read_parquet('$loc/data/*/*.parquet')
       |GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------------- q55
  // Partitioned fact table through the SQL catalog (reference
  // `main.tf:139-151`: the user_events Iceberg table is day-partitioned by
  // definition; Hive layout `generate_sample_data.py:106,135`): CREATE
  // TABLE … PARTITIONED BY (day), append the events, query a day range —
  // the scan prunes to the matching partitions' files via the manifest's
  // partition-value stats.
  def q55(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_days_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, event_type STRING,
         |   day DATE, value DOUBLE)
         |PARTITIONED BY (day)""".stripMargin)
    ev(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("value"))
      .writeTo(s"graft.db.$name").append()
    s.sql(
      s"""SELECT day, count(*) AS n_events,
         |       count(DISTINCT user_id) AS n_users
         |FROM graft.db.$name
         |WHERE day >= DATE '${Tables.daysAgo(7).take(10)}'
         |GROUP BY day ORDER BY day""".stripMargin)
  }

  val q55Sql =
    s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
       |       count(DISTINCT user_id) AS n_users
       |FROM events
       |WHERE CAST(ts AS DATE) >= DATE '${Tables.daysAgo(7).take(10)}'
       |GROUP BY 1 ORDER BY day""".stripMargin

  // ------------------------------------------------------------- q55b
  // Partition spec EVOLUTION (Iceberg's metadata-only layout change, the
  // "Partition Spec" slot of the reference's metadata diagram
  // `aws-community-builders-presentation.md:163`): seed the table
  // day-partitioned, CALL set_partition_spec to add bucket(8,user_id),
  // append the rest — the two layout generations coexist and the verified
  // query crosses BOTH (a ts range over old-spec files, a user filter the
  // new generation bucket-prunes), proving evolution never rewrites or
  // loses a row. At 100 TB this commit replaces days of rewrite cluster
  // time; compaction migrates old regions incrementally.
  def q55b(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_pevo_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, event_type STRING,
         |   ts TIMESTAMP, value DOUBLE)
         |PARTITIONED BY (days(ts))""".stripMargin)
    val e = ev(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    e.filter(col("event_id") % 2 === 0).writeTo(s"graft.db.$name").append()
    s.sql(s"CALL graft.system.set_partition_spec(table => 'db.$name', " +
      "spec => 'days(ts), bucket(8, user_id)')")
    e.filter(col("event_id") % 2 =!= 0).writeTo(s"graft.db.$name").append()
    // sanity: the evolution really was metadata-only — new spec live, both
    // stats generations present in the manifest
    val t = graft.table.SnapshotTable.load(s, s"$wh/db/$name")
    require(t.partitionCols == Seq("days(ts)", "bucket(8,user_id)"),
      s"q55b: expected the evolved spec, got ${t.partitionCols}")
    val snap = t.head
    require(snap.files.exists(f => !f.stats.contains("bucket(8,user_id)")) &&
      snap.files.exists(f => f.stats.contains("bucket(8,user_id)")),
      "q55b: expected both partition-spec generations in the manifest")
    s.sql(
      s"""SELECT user_id, count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name
         |WHERE ts >= TIMESTAMP '${Tables.daysAgo(14)}' AND user_id < 50
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
  }

  val q55bSql =
    s"""SELECT user_id, count(*) AS n_events,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM events
       |WHERE ts >= TIMESTAMP '${Tables.daysAgo(14)}' AND user_id < 50
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------- q64
  // days(ts) TIME-TRANSFORM partitioning (Iceberg's fact-table idiom,
  // the layout the reference's day-partitioned user_events table IS):
  // partition directly on the event timestamp — no materialized `day`
  // column — one file per calendar day, date-typed partition stats in
  // the manifest. The verifying query filters a ts RANGE: day slicing
  // makes every file's ts footer stats tight, so the range prunes to the
  // matching days' files before any data is read.
  def q64(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"events_tdays_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(
      s"""CREATE TABLE graft.db.$name
         |  (event_id BIGINT, user_id BIGINT, event_type STRING,
         |   ts TIMESTAMP, value DOUBLE)
         |PARTITIONED BY (days(ts))""".stripMargin)
    ev(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
      .writeTo(s"graft.db.$name").append()
    s.sql(
      s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name
         |WHERE ts >= TIMESTAMP '${Tables.daysAgo(7)}'
         |GROUP BY 1 ORDER BY day""".stripMargin)
  }

  val q64Sql =
    s"""SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
       |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM events
       |WHERE ts >= TIMESTAMP '${Tables.daysAgo(7)}'
       |GROUP BY 1 ORDER BY day""".stripMargin

  // ------------------------------------------------------------- q65
  // Dynamic table (T2) through the registry: the Snowflake TARGET_LAG
  // refresh loop as availableNow micro-batches, each batch merged into a
  // snapshot table incrementally — only the groups the batch touched are
  // recomputed and only their files rewritten
  // ([[graft.streaming.Streams.DynamicTable]] via the file-confined
  // replaceWhere). The verified rows read the refreshed MV, so the
  // counts prove the incremental merge equals the full recompute.
  def q65(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.scratch(s"dyn_src_${tag(dir)}")
    Tables.deleteRecursively(src)
    ev(s, dir).repartition(6).write.parquet(src)
    val loc = Tables.scratch(s"dyn_mv_${tag(dir)}")
    // bucket(16,user_id): the MV's files cluster by user hash, so each
    // refresh batch's touched-key IN pins its bucket ids and replaceWhere
    // rewrites O(touched buckets) files, not the whole MV — the
    // incremental path this operator exists for, now registry-exercised
    val dyn = new graft.streaming.Streams.DynamicTable(s, loc,
      partitionCols = Seq("bucket(16,user_id)"))
    dyn.refresh(src, s"q65_${tag(dir)}")
      .select(col("user_id"), col("event_count"),
        col("total_value").cast("double").as("total_value"),
        size(col("event_types")).cast("long").as("n_event_types"))
  }

  val q65Sql =
    """SELECT user_id, count(*) AS event_count,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       count(DISTINCT event_type) AS n_event_types
      |FROM events GROUP BY user_id""".stripMargin

  // ------------------------------------------------------------- q65b
  // Dynamic table at Snowflake's ACTUAL TARGET_LAG semantics
  // (`aws-community-builders-presentation.md:751-766`): the source is a
  // graft TABLE receiving MERGE and DELETE commits, and the MV refreshes
  // through the CDC changelog ([[SnapshotTable.changes]]) — the commit
  // mix the appends-only q65 stream would refuse. Each refresh recomputes
  // only the touched users' groups (bounded by the delta) and swaps them
  // file-confined on the bucketed MV.
  def q65b(s: SparkSession, dir: String): DataFrame = {
    val srcLoc = Tables.scratch(s"snaptab/cdc_src_${tag(dir)}")
    val mvLoc = Tables.scratch(s"snaptab/cdc_mv_${tag(dir)}")
    Tables.deleteRecursively(srcLoc)
    Tables.deleteRecursively(mvLoc)
    val e = ev(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts"))
    val src = SnapshotTable.create(s, srcLoc,
      e.filter(col("event_id") % 4 =!= 3))
    val dyn = new graft.streaming.Streams.CdcDynamicTable(s, mvLoc,
      partitionCols = Seq("bucket(16,user_id)"))
    dyn.refresh(srcLoc) // initial build
    // MOR MERGE: ids %5==0 present → update (value*2); absent (%4==3) → insert
    src.mergeMor(e.filter(col("event_id") % 5 === 0)
      .withColumn("value", col("value") * 2), Seq("event_id"))
    // MOR DELETE: a slice of view events disappears
    src.positionDelete(col("event_type") === "view" && col("user_id") % 7 === 2)
    dyn.refresh(srcLoc) // CDC refresh across both row-level commits
      .select(col("user_id"), col("event_count"),
        col("total_value").cast("double").as("total_value"),
        size(col("event_types")).cast("long").as("n_event_types"))
  }

  val q65bSql =
    """WITH src AS (
      |  SELECT event_id, user_id, event_type,
      |         CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END AS value
      |  FROM events
      |  WHERE event_id % 4 <> 3 OR event_id % 5 = 0),
      |live AS (
      |  SELECT * FROM src
      |  WHERE NOT (event_type = 'view' AND user_id % 7 = 2))
      |SELECT user_id, count(*) AS event_count,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       count(DISTINCT event_type) AS n_event_types
      |FROM live GROUP BY user_id""".stripMargin

  // ------------------------------------------------------------- q62
  // Storage-partitioned join (SPJ), end-to-end: two graft tables
  // bucketed `bucket(8, user_id)` join on (day, user_id) WITHOUT any
  // shuffle: each scan reports KeyGroupedPartitioning over its bucket
  // transform (resolved through the catalog's FunctionCatalog),
  // EnsureRequirements recognizes the co-partitioning — the bucket
  // covers a SUBSET of the join keys, sound because same-bucket rows
  // contain every (day, user) pair, accepted under the public
  // requireAllClusterKeysForCoPartition=false conf — and the SORT-MERGE
  // join plus the (day, user)-grouped aggregate above it run
  // exchange-free. Broadcast is disabled on the cloned session: at bench
  // scale a BroadcastHashJoin would be shuffle-free without exercising
  // SPJ at all, and the 100 TB shape this query exists to prove is the
  // sort-merge join of two fact tables whose shuffle co-location comes
  // from STORAGE, not from an exchange. KeyGroupedJoinSpec asserts this
  // exact query plans ZERO ShuffleExchange nodes and exactly one
  // SortMergeJoin. The planner flags live on a CLONED session:
  // key-grouped planning caps scan parallelism at the partition-value
  // count — right for this join, wrong for the plain huge-table scans
  // the rest of the registry runs.
  // Output is unordered (the verify compare sorts rows); an ORDER BY here
  // would add a range exchange that has nothing to do with the join.
  def q62(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.graft.planning.preserveDataGrouping", "true")
    // broadcast OFF: at bench scale the dims fit the broadcast threshold
    // and a BroadcastHashJoin would be shuffle-free without exercising
    // SPJ at all — this query exists to run the SORT-MERGE join over
    // co-partitioned scans, the shape that matters at 100 TB
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the tables are bucketed on user_id ONLY — a subset of the join keys
    // (day, user_id). Same-bucket rows still contain every (day, user)
    // pair, so co-partitioning is sound; Spark only accepts subset
    // clustering when this (public) conf relaxes the all-keys requirement
    s2.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val wh = Tables.scratch(s"warehouse/spj_${tag(dir)}")
    s2.conf.set("spark.sql.catalog.spj", classOf[graft.table.GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.spj.warehouse", wh)
    def mk(name: String, parity: Int): Unit = {
      Tables.deleteRecursively(s"$wh/db/$name")
      s2.sql(
        s"""CREATE TABLE spj.db.$name
           |  (event_id BIGINT, user_id BIGINT, day DATE, value DOUBLE)
           |PARTITIONED BY (bucket(8, user_id))""".stripMargin)
      Tables.load(s2, dir, "events")
        .filter(col("event_id") % 2 === parity)
        .select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("day"), col("value"))
        .writeTo(s"spj.db.$name").append()
    }
    val (ta, tb) = (s"ev_even_${tag(dir)}", s"ev_odd_${tag(dir)}")
    mk(ta, 0)
    mk(tb, 1)
    val a = s2.table(s"spj.db.$ta")
      .select(col("day"), col("user_id"), col("value").as("value_a"))
    val b = s2.table(s"spj.db.$tb")
      .select(col("day"), col("user_id"), col("value").as("value_b"))
    a.join(b, Seq("day", "user_id"))
      .groupBy("day", "user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("value_a").cast("decimal(18,2)") +
          col("value_b").cast("decimal(18,2)")).cast("double").as("pair_value"))
  }

  val q62Sql =
    """WITH a AS (SELECT CAST(ts AS DATE) AS day, user_id,
      |                  CAST(value AS DECIMAL(18,2)) AS value_a
      |           FROM events WHERE event_id % 2 = 0),
      |     b AS (SELECT CAST(ts AS DATE) AS day, user_id,
      |                  CAST(value AS DECIMAL(18,2)) AS value_b
      |           FROM events WHERE event_id % 2 = 1)
      |SELECT day, user_id, count(*) AS n_pairs,
      |       CAST(sum(value_a + value_b) AS DOUBLE) AS pair_value
      |FROM a JOIN b USING (day, user_id)
      |GROUP BY day, user_id""".stripMargin

  // ------------------------------------------------------------- q63
  // Table-to-table streaming pipeline: readStream FROM a graft table
  // (snapshot versions as micro-batch offsets — the Iceberg streaming-
  // read / Snowflake table-stream shape, each appended file consumed
  // exactly once) INTO a second graft table through the exactly-once
  // epoch-committed sink. A COMPACTION is deliberately interleaved
  // between the source's two appends and the stream rides over it via
  // option("skip_rewrites", "compact") — streaming reads and routine
  // maintenance must coexist (a compact preserves the row multiset, so
  // skipping its version loses nothing). The verified result reads the
  // DESTINATION table, so the row counts prove the whole source→sink
  // contract: nothing lost, nothing doubled, compaction notwithstanding.
  def q63(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val (src, dst) = (s"ev_streamsrc_${tag(dir)}", s"ev_streamdst_${tag(dir)}")
    Tables.deleteRecursively(s"$wh/db/$src")
    Tables.deleteRecursively(s"$wh/db/$dst")
    val ckpt = Tables.scratch(s"ckpt/q63_${tag(dir)}")
    Tables.deleteRecursively(ckpt)
    s.sql(s"CREATE TABLE graft.db.$src (event_id BIGINT, event_type STRING, value DOUBLE)")
    s.sql(s"CREATE TABLE graft.db.$dst (event_id BIGINT, event_type STRING, value DOUBLE)")
    val e = ev(s, dir).select(col("event_id"), col("event_type"), col("value"))
    e.filter(col("event_id") < 8000).writeTo(s"graft.db.$src").append()
    graft.table.SnapshotTable.load(s, s"$wh/db/$src").compact()
    e.filter(col("event_id") >= 8000).writeTo(s"graft.db.$src").append()
    s.readStream
      .option("skip_rewrites", "compact")
      .table(s"graft.db.$src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.db.$dst")
      .awaitTermination()
    s.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$dst GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q63Sql =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q88
  // Watermarked stream-stream interval join (the Structured Streaming
  // operator the rest of the streaming surface didn't yet exercise):
  // purchases and views stream from the SAME graft table (a streaming
  // self-join), watermarked on both sides, joined per user within the
  // 24-hours-before-purchase window, and the joined ROWS land in a
  // second graft table through the exactly-once sink; the verified result
  // aggregates the DESTINATION. Both watermarks + the two-sided time
  // bound are what let Spark evict join state at 100 TB (state holds only
  // rows younger than watermark - 24 h per side); under AvailableNow on
  // a single staged snapshot version the whole source is one micro-batch,
  // so the watermark drops nothing and the result is exactly the batch
  // oracle.
  def q88(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val (src, dst) = (s"ev_ssjsrc_${tag(dir)}", s"ev_ssjdst_${tag(dir)}")
    Tables.deleteRecursively(s"$wh/db/$src")
    Tables.deleteRecursively(s"$wh/db/$dst")
    val ckpt = Tables.scratch(s"ckpt/q88_${tag(dir)}")
    Tables.deleteRecursively(ckpt)
    s.sql(s"CREATE TABLE graft.db.$src (event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING)")
    s.sql(s"CREATE TABLE graft.db.$dst (purchase_id BIGINT, user_id BIGINT, view_ts TIMESTAMP)")
    // one append = one snapshot version = one AvailableNow micro-batch
    // (file-granular offsets, no maxFilesPerTrigger cap) — no compaction
    // needed to pin single-batch semantics, and rewriting 1 M rows just
    // to merge files would dominate the query's measured time
    // stage only the two event types the join consumes — the operator
    // under test is the stream-stream join, not a full-corpus scan, and
    // rows of other types could never match either side's filter
    ev(s, dir).filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .writeTo(s"graft.db.$src").append()

    // run the STREAM on a cloned session with fewer shuffle partitions
    // (X68 pattern — caller session untouched): a stream-stream join
    // maintains TWO state stores per shuffle partition, and at 32
    // partitions the per-partition state-file machinery dominates a
    // 400 k-row batch (measured ~10 s isolated at 32 partitions → ~6 s
    // at 8). At production volume you'd size partitions UP — this is the
    // partitions-track-data-volume knob, exercised downward.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    // an INNER interval join emits each match in the data batch that
    // completes it; the trailing no-data batch only advances the watermark
    // to evict state — it re-runs the full 8-partition × 2-store commit
    // cycle to emit zero rows, so the one-shot drain skips it (a 24/7
    // deployment keeps it: state eviction is what bounds its memory)
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val st = s2.readStream.table(s"graft.db.$src")
    val purchases = st.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"))
      .withWatermark("pts", "48 hours")
    val views = st.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("vts"))
      .withWatermark("vts", "48 hours")
    purchases.join(views,
        col("p_user") === col("v_user") &&
          col("vts") >= col("pts") - expr("INTERVAL 24 HOURS") &&
          col("vts") < col("pts"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("vts").as("view_ts"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.db.$dst")
      .awaitTermination()
    // unload the terminated query's state-store providers NOW: they hold
    // both sides' join state in executor memory until the maintenance
    // tick (60 s default) evicts them, and back-to-back reruns otherwise
    // accumulate provider maps and slow down monotonically (measured
    // 16 -> 19 -> 22 s across bench reps)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    s.sql(
      s"""SELECT purchase_id, user_id, count(*) AS n_recent_views
         |FROM graft.db.$dst GROUP BY purchase_id, user_id
         |ORDER BY purchase_id""".stripMargin)
  }

  // ------------------------------------------------------------- q96
  // Zero-copy clone (Snowflake `CREATE TABLE … CLONE`, the reference
  // platform's flagship dev/test workflow): seed a table with the first
  // 9000 events, `CALL graft.system.clone`, then diverge the CLONE with
  // the remaining events. The verified result reads BOTH tables after the
  // divergence — source frozen at 9000 rows, clone at the full count —
  // proving clone-point isolation; CloneSpec pins the zero-copy part
  // (every cloned file is a hard link) and GC safety on either side.
  def q96(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val (src, dst) = (s"ev_clonesrc_${tag(dir)}", s"ev_clonedst_${tag(dir)}")
    Tables.deleteRecursively(s"$wh/db/$src")
    Tables.deleteRecursively(s"$wh/db/$dst")
    s.sql(s"CREATE TABLE graft.db.$src (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)")
    ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 9000)
      .writeTo(s"graft.db.$src").append()
    s.sql(s"CALL graft.system.clone(table => 'db.$src', target => 'db.$dst')")
    ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") >= 9000)
      .createOrReplaceTempView("clone_late_events")
    s.sql(s"INSERT INTO graft.db.$dst SELECT * FROM clone_late_events")
    s.sql(
      s"""SELECT 'clone' AS tbl, count(*) AS n_rows FROM graft.db.$dst
         |UNION ALL
         |SELECT 'source', count(*) FROM graft.db.$src
         |ORDER BY tbl""".stripMargin)
  }

  val q96Sql =
    """SELECT 'clone' AS tbl, count(*) AS n_rows FROM events
      |UNION ALL
      |SELECT 'source', count(*) FROM events WHERE event_id < 9000
      |ORDER BY tbl""".stripMargin

  // ------------------------------------------------------------- q97
  // In-place migration (`CALL graft.system.add_files` — the reference
  // demo's core story: existing S3 parquet becomes a governed table
  // without rewriting a byte): the first 8000 events sit as a RAW parquet
  // directory; an empty table is declared over that schema; add_files
  // adopts the files (footer stats harvested, hard-linked, zero rewrite);
  // the late slice then arrives through the NORMAL committer. The
  // verified aggregate reads the table — adopted and written files
  // answering one query together is the whole migration promise.
  def q97(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"ev_migrate_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    val raw = Tables.scratch(s"rawmigrate/${tag(dir)}")
    Tables.deleteRecursively(raw)
    val cols = Seq("event_id", "user_id", "event_type", "value")
    ev(s, dir).select(cols.map(col): _*).filter(col("event_id") < 8000)
      .repartition(4)
      .write.parquet(raw)
    s.sql(s"CREATE TABLE graft.db.$name (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)")
    s.sql(s"CALL graft.system.add_files(table => 'db.$name', source_dir => '$raw')")
    ev(s, dir).select(cols.map(col): _*).filter(col("event_id") >= 8000)
      .createOrReplaceTempView("migrate_late_events")
    s.sql(s"INSERT INTO graft.db.$name SELECT * FROM migrate_late_events")
    s.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q97Sql =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q98
  // Persisted catalog views (Snowflake CREATE VIEW): the definition is
  // stored in the warehouse (`CALL graft.system.create_view`, analyzed at
  // create time) and resolved on read by the extension-injected
  // [[graft.plans.GraftViewRule]] — stock Spark 4.1 ships the ViewCatalog
  // API but never calls loadView, so resolution rides our rule, the same
  // road Iceberg's extensions take. The verified read goes through the
  // VIEW after a post-create append to the base table — a warehouse view
  // replans live, so the late rows MUST appear.
  def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Governance
    val g = governedFor(s)
    Governance.clearPolicies()
    Governance.setPrivileged(g, true)
    val wh = Tables.scratch("warehouse/graft-catalog")
    g.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    g.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"ev_viewbase_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    g.sql(s"CREATE TABLE graft.db.$name (event_id BIGINT, event_type STRING, value DOUBLE)")
    Tables.load(g, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") < 9000)
      .writeTo(s"graft.db.$name").append()
    // the stored definition is deliberately CTE-bearing: a parse-time CTE
    // name is a 1-part relation that create_view's static check must
    // EXEMPT (while still requiring full qualification for real tables) —
    // the dominant Snowflake query shape, exercised here in the graded
    // gate. DDL is typed in the reference's own NATIVE spelling
    // (performance_comparison.sql:24-34) — the extension parser desugars
    // it to the create_view procedure ([[graft.plans.ViewDdl]]), so the
    // full validation path (qualification, self-ref, analysis) still runs
    g.sql(s"CREATE OR REPLACE VIEW graft.db.v_$name AS " +
      s"WITH src AS (SELECT event_type, value FROM graft.db.$name) " +
      s"SELECT event_type, count(*) AS n_events, " +
      s"CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
      s"FROM src GROUP BY event_type")
    // live replanning: rows appended AFTER the view definition must show
    Tables.load(g, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") >= 9000)
      .writeTo(s"graft.db.$name").append()
    g.sql(s"SELECT * FROM graft.db.v_$name ORDER BY event_type")
  }

  val q98Sql =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val q88Sql =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |       count(*) AS n_recent_views
      |FROM events p JOIN events v
      |  ON v.user_id = p.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts < p.ts
      |GROUP BY p.event_id, p.user_id
      |ORDER BY purchase_id""".stripMargin

  // ------------------------------------------------------------- q67
  // Write-audit-publish (reference README's "audit before the business
  // sees it" promise, Iceberg's spark.wap.branch workflow): main is seeded
  // with the first 7000 events; the late slice is staged on an `audit`
  // branch (all its writes routed by spark.wap.branch on a CLONED session
  // — the caller's session is never mutated); the audit step runs a DELETE
  // on the branch chain removing every 'error' event; fast_forward then
  // publishes the audited state as one atomic main commit. The result
  // reads MAIN after publish, plus the pre-publish main row count captured
  // while the branch was still staging — proving isolation (7000, i.e.
  // untouched by both the staged insert and the audit delete).
  def q67(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"ev_wap_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(s"CREATE TABLE graft.db.$name (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)")
    val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    e.filter(col("event_id") < 7000).writeTo(s"graft.db.$name").append()
    s.sql(s"CALL graft.system.create_branch(table => 'db.$name', name => 'audit')")

    // stage + audit on a cloned session scoped to the branch
    val s2 = s.newSession()
    s2.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.graft.warehouse", wh)
    s2.conf.set("spark.wap.branch", "audit")
    Tables.load(s2, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_id") >= 7000)
      .createOrReplaceTempView("staged_events")
    s2.sql(s"INSERT INTO graft.db.$name SELECT * FROM staged_events")
    s2.sql(s"DELETE FROM graft.db.$name WHERE event_type = 'error'")

    // main is still the untouched seed while the branch holds the audit
    val mainPrePublish = s.table(s"graft.db.$name").count()
    s.sql(s"CALL graft.system.fast_forward(table => 'db.$name', branch => 'audit')")
    s.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |       $mainPrePublish AS main_rows_pre_publish
         |FROM graft.db.$name GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val q67Sql =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |       (SELECT count(*) FROM events WHERE event_id < 7000) AS main_rows_pre_publish
      |FROM events WHERE event_type <> 'error'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- q68
  // Retention floors through SQL (X56, reference retention policy surface:
  // Iceberg's `history.expire.min-snapshots-to-keep` table property): five
  // appends build a create+5 version chain; ALTER TABLE SET TBLPROPERTIES
  // pins a floor of 4 snapshots (itself one more metadata commit);
  // `expire_snapshots(keep_last => 1)` then asks for aggressive collection
  // and the floor must win — the history readback shows exactly 4
  // surviving versions, and the table's data is untouched (expiration
  // drops old SNAPSHOTS, never current rows). The floor is what keeps a
  // routine maintenance job from collecting versions a 24/7 streaming
  // checkpoint still needs to replay. NOTE: floor-beats-explicit is a
  // DELIBERATE divergence from Apache Iceberg, where an explicit
  // retain_last overrides the property default — rationale in
  // [[graft.table.SnapshotTable.expireSnapshots]].
  def q68(s: SparkSession, dir: String): DataFrame = {
    val wh = Tables.scratch("warehouse/graft-catalog")
    s.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"ev_retain_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    s.sql(s"CREATE TABLE graft.db.$name (event_id BIGINT, event_type STRING, value DOUBLE)")
    val e = ev(s, dir).select(col("event_id"), col("event_type"), col("value"))
    // five slices covering ALL events at any sf → versions v1..v5
    val cuts = Seq(2000L, 4000L, 6000L, 8000L)
    val slices = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    slices.foreach { case (lo, hi) =>
      e.filter(col("event_id") >= lo && col("event_id") < hi)
        .writeTo(s"graft.db.$name").append()
    }
    // v6: the floor, set through plain SQL DDL (validated, metadata-only)
    s.sql(s"ALTER TABLE graft.db.$name SET TBLPROPERTIES " +
      s"('${SnapshotTable.MinSnapshotsToKeep}'='4')")
    s.sql(s"CALL graft.system.expire_snapshots(table => 'db.$name', keep_last => 1)")
    s.sql(
      s"""SELECT (SELECT CAST(count(*) AS BIGINT) FROM graft.db.$name.history)
         |         AS kept_versions,
         |       count(*) AS n_rows,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM graft.db.$name""".stripMargin)
  }

  // the floor (4) beats keep_last => 1; data survives expiration in full
  val q68Sql =
    """SELECT CAST(4 AS BIGINT) AS kept_versions, count(*) AS n_rows,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events""".stripMargin

  // ------------------------------------------------------------- q69
  // Governance over STREAMING reads, driver-visible (G1/G2 × T1; the
  // sbt-side pin is GovernanceSpec's streaming case): an UNPRIVILEGED
  // extension-injected session drains a policied catalog table through
  // `readStream.table` → parquet sink, and what lands in the sink is what
  // the row policy + mask let THROUGH the stream — never a driver-side
  // collect. The oracle recomputes the governed view from the raw
  // customer table, so a streaming path that leaked an unmasked name or
  // an out-of-segment row hash-mismatches. Enforcement must survive
  // Spark's per-micro-batch session cloning (the clone carries the
  // governance token — fail-closed the other way: a clone NEVER gains
  // privilege).
  private lazy val governedSession
      : java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession] =
    new java.util.concurrent.ConcurrentHashMap()

  /** An extension-injected (GovernanceRule-active) engine session on the
    * caller's SparkContext, cached per caller: `spark.sql.extensions` is a
    * static conf, ignored once the context exists, so the governed session
    * is built programmatically via `withExtensions`. */
  private[graft] def governedFor(s: SparkSession): SparkSession =
    governedSession.computeIfAbsent(s, caller => {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val g = graft.GraftSession
        .builder(caller.conf.get("spark.sql.shuffle.partitions").toInt)
        .appName("graft-governed")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      SparkSession.setDefaultSession(caller)
      SparkSession.setActiveSession(caller)
      g
    })

  def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Governance
    val g = governedFor(s)
    val wh = Tables.scratch("warehouse/graft-catalog")
    g.conf.set("spark.sql.catalog.graft", classOf[graft.table.GraftCatalog].getName)
    g.conf.set("spark.sql.catalog.graft.warehouse", wh)
    val name = s"gov_customer_${tag(dir)}"
    Tables.deleteRecursively(s"$wh/db/$name")
    g.sql(s"CREATE TABLE graft.db.$name (user_id BIGINT, name STRING, segment STRING)")
    Tables.load(g, dir, "customer")
      .select(col("c_custkey").cast("long").as("user_id"),
        col("c_name").as("name"), col("c_mktsegment").as("segment"))
      .writeTo(s"graft.db.$name").append()
    Governance.clearPolicies()
    Governance.setPrivileged(g, false)
    Governance.addRowPolicy(Governance.RowPolicy(name, "segment = 'BUILDING'"))
    Governance.addMaskPolicy(Governance.MaskPolicy(name, "name"))
    val out = Tables.scratch(s"gov-stream/out_${tag(dir)}")
    val ckpt = Tables.scratch(s"gov-stream/ckpt_${tag(dir)}")
    Tables.deleteRecursively(out)
    Tables.deleteRecursively(ckpt)
    try {
      g.readStream.table(s"graft.db.$name")
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    } finally Governance.clearPolicies() // never leak policies across queries
    // read the sink back on the CALLER's (ungoverned) session: the rows
    // on disk, not a re-application of the policy, are what's checked
    s.read.parquet(out).select("user_id", "name", "segment").orderBy("user_id")
  }

  val q69Sql =
    """SELECT c_custkey AS user_id, '***MASKED***' AS name,
      |       c_mktsegment AS segment
      |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q49_bench_metrics" -> (q49 _),
    "q48_sql_time_travel" -> (q48 _),
    "q07_time_travel" -> (q07 _),
    "q41_governed_view" -> (q41 _),
    "q42_streaming_agg" -> (q42 _),
    "q43_mv_refresh" -> (q43 _),
    "q44_compaction" -> (q44 _),
    "q45_schema_evolution" -> (q45 _),
    "q52_warehouse_usage" -> (q52 _),
    "q53_storage_usage" -> (q53 _),
    "q54_multi_engine" -> (q54 _),
    "q55_partitioned_table" -> (q55 _),
    "q55b_partition_evolution" -> (q55b _),
    "q57_zorder_compaction" -> (q57 _),
    "q57b_sort_order" -> (q57b _),
    "q58_sql_merge" -> (q58 _),
    "q58b_mor_merge" -> (q58b _),
    "q58c_equality_upsert" -> (q58c _),
    "q59_history_table" -> (q59 _),
    "q61_stateful_dedup" -> (q61 _),
    "q62_spj_join" -> (q62 _),
    "q63_streaming_pipeline" -> (q63 _),
    "q88_stream_stream_join" -> (q88 _),
    "q96_zero_copy_clone" -> (q96 _),
    "q97_add_files_migrate" -> (q97 _),
    "q98_catalog_view" -> (q98 _),
    "q64_days_transform" -> (q64 _),
    "q65_dynamic_table" -> (q65 _),
    "q65b_dynamic_cdc" -> (q65b _),
    "q67_wap_publish" -> (q67 _),
    "q68_retention_floor" -> (q68 _),
    "q69_governed_stream" -> (q69 _))

  val oracle: Map[String, String] = Map(
    "q49_bench_metrics" -> q49Sql,
    "q48_sql_time_travel" -> q48Sql,
    "q07_time_travel" -> q07Sql,
    "q41_governed_view" -> q41Sql,
    "q42_streaming_agg" -> q42Sql,
    "q43_mv_refresh" -> q43Sql,
    "q44_compaction" -> q44Sql,
    "q45_schema_evolution" -> q45Sql,
    "q52_warehouse_usage" -> q52Sql,
    "q53_storage_usage" -> q53Sql,
    "q54_multi_engine" -> q54Sql,
    "q55_partitioned_table" -> q55Sql,
    "q55b_partition_evolution" -> q55bSql,
    "q57_zorder_compaction" -> q57Sql,
    "q57b_sort_order" -> q57bSql,
    "q58_sql_merge" -> q58Sql,
    "q58b_mor_merge" -> q58bSql,
    "q58c_equality_upsert" -> q58cSql,
    "q59_history_table" -> q59Sql,
    "q61_stateful_dedup" -> q61Sql,
    "q62_spj_join" -> q62Sql,
    "q63_streaming_pipeline" -> q63Sql,
    "q88_stream_stream_join" -> q88Sql,
    "q96_zero_copy_clone" -> q96Sql,
    "q97_add_files_migrate" -> q97Sql,
    "q98_catalog_view" -> q98Sql,
    "q64_days_transform" -> q64Sql,
    "q65_dynamic_table" -> q65Sql,
    "q65b_dynamic_cdc" -> q65bSql,
    "q67_wap_publish" -> q67Sql,
    "q68_retention_floor" -> q68Sql,
    "q69_governed_stream" -> q69Sql)
}

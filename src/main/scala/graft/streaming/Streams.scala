package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Tables

/** Streaming / incremental operators (reference T1–T3):
  *  - [[streamingAggregate]]: micro-batch file ingest (T1) feeding a
  *    streaming aggregate — the reference's Firehose→Iceberg path, with
  *    `maxFilesPerTrigger` playing the 128 MB/300 s buffer;
  *  - [[DynamicTable]]: auto-refreshing aggregate (T2, Snowflake dynamic
  *    table with TARGET_LAG) as availableNow streaming + foreachBatch
  *    merge into a snapshot table;
  *  - [[refreshMaterializedView]]: full-recompute MV refresh (T3).
  *
  * Scale: state lives in the streaming state store partitioned by the
  * group key; file ingest parallelizes per file; foreachBatch output goes
  * through the snapshot-table committer (atomic swap, readers never see a
  * half-refresh).
  */
object Streams {

  /** T1+T2 (complete-mode variant): ingest a parquet directory as a file
    * stream in micro-batches and maintain a grouped aggregate in the
    * streaming state store; returns the final aggregate after availableNow
    * drains the backlog. Complete-mode output lands in a graft snapshot
    * table (each epoch swaps the full recomputed result through the
    * sink's truncate path) on a CLONED session — the state-shard sizing
    * and nanos confs never touch the caller's session.
    */
  def streamingAggregate(spark: SparkSession, srcDir: String,
      queryName: String, maxFilesPerTrigger: Int = 10,
      statePartitions: Int = 8, warehouse: Option[String] = None): DataFrame =
    drainToTable(spark, queryName, warehouse, statePartitions,
      "event_type STRING, event_count BIGINT, total_value DOUBLE",
      outputMode = "complete", noDataBatches = false) { s2 =>
      val schema = s2.read.parquet(srcDir).schema
      val raw = s2.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(srcDir)
      val withTs =
        if (schema.fieldNames.contains("ts") &&
            schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      withTs.groupBy("event_type")
        .agg(count(lit(1)).as("event_count"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    }

  /** Drain a stream into a graft snapshot table through the exactly-once
    * DSv2 streaming sink and return the landed table — the scale-correct
    * sink for every streaming operator here: at 100 TB/day the emitted
    * stream (closed sessions, finalized windows, first-seen docs) is
    * itself large, and a driver-side memory sink would be the bottleneck
    * the distributed sink exists to avoid. `outputMode` "append" commits
    * each epoch's rows as an append snapshot; "complete" swaps the whole
    * file list per epoch (the sink's truncate path).
    *
    * Isolation: the drain runs on a CLONED session — the state-shard
    * sizing conf and the catalog registration never leak to (or race
    * with) the caller's session — and the clone is pinned ACTIVE for the
    * drain because `toTable` resolves its catalog through
    * `SparkSession.active`, not the frame's own session. One state shard
    * per shuffle partition is CHECKPOINTED every micro-batch, so the
    * shard count is sized explicitly: at scale it's the state-parallelism
    * knob, locally it cuts per-batch fsync 4× vs the session default.
    * Each call is a one-shot bounded drain into a FRESH table (checkpoint
    * and output location reset). */
  private def drainToTable(spark: SparkSession, name: String,
      warehouse: Option[String], statePartitions: Int, columnsDdl: String,
      outputMode: String = "append", noDataBatches: Boolean = true)
      (mkStream: SparkSession => DataFrame): DataFrame = {
    import graft.table.{GraftCatalog, SnapshotTable}
    val ckpt = Tables.scratch(s"ckpt/$name")
    Tables.deleteRecursively(ckpt)
    val wh = warehouse.getOrElse(Tables.scratch(s"streamwh/$name"))
    val loc = s"$wh/db/$name"
    Tables.deleteRecursively(loc)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // callers whose operators have no event-time machinery to finalize
    // (complete-mode aggs re-emit per data batch; fMGWS with NoTimeout
    // emits on data only) skip the trailing no-data micro-batch — it
    // re-runs the full sink/state commit cycle to produce zero new rows.
    // Watermark-append operators (windowed aggs, sessionization) keep it:
    // their final windows only emit once a no-data batch advances the
    // watermark.
    if (!noDataBatches)
      s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val cat = warehouseCatalogName(wh)
    s2.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    try {
      s2.sql(s"CREATE TABLE $cat.db.`$name` ($columnsDdl)")
      mkStream(s2).writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.`$name`")
        .awaitTermination()
    } finally prevActive match {
      // a no-op foreach here would LEAK the conf-flipped clone as the
      // thread's active session when the caller had none (fresh thread)
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
    SnapshotTable.load(spark, loc).read()
  }

  /** Watermarked tumbling-window aggregate (the brief's Structured
    * Streaming hardening beyond the reference's buffering-only windows):
    * event-time windows on `ts` with a late-data watermark, state expired
    * once the watermark passes — the shape of a production event rollup
    * where state must not grow unboundedly. Append mode emits only
    * finalized windows, landed in a graft snapshot table through the
    * exactly-once sink (one epoch-tagged snapshot per emitting batch):
    * the finalized-window stream grows with the data, so it belongs in a
    * table, never a driver memory sink.
    */
  def windowedCounts(spark: SparkSession, srcDir: String, queryName: String,
      windowLen: String = "1 day", watermark: String = "2 hours",
      slide: Option[String] = None, warehouse: Option[String] = None,
      statePartitions: Int = 8): DataFrame =
    drainToTable(spark, queryName, warehouse, statePartitions,
      "window_start TIMESTAMP, event_type STRING, event_count BIGINT") { s2 =>
      val schema = s2.read.parquet(srcDir).schema
      val raw = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10).parquet(srcDir)
      val withTs =
        if (schema.fieldNames.contains("ts") &&
            schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      // slide < windowLen → overlapping (sliding) windows: each event lands
      // in windowLen/slide windows; state per open window, same watermark
      // expiry — the rolling-aggregate shape (e.g. 7-day rolling dailies)
      val win = slide.fold(window(col("ts"), windowLen))(sl =>
        window(col("ts"), windowLen, sl))
      withTs
        .withWatermark("ts", watermark)
        .groupBy(win, col("event_type"))
        .agg(count(lit(1)).as("event_count"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("event_count"))
    }

  /** Streaming sessionization: gap-based per-user sessions over event
    * time via Spark's native `session_window` — the streaming sibling of
    * q10's batch LAG-based session split. State is keyed by (user,
    * session-window) and merged as windows overlap, expired once the
    * watermark passes the gap, so state stays bounded by ACTIVE sessions
    * regardless of stream length — the property a 100 TB/day clickstream
    * needs. Append mode emits only closed sessions, landed in a graft
    * snapshot table through the exactly-once sink: a day of clickstream
    * closes one row per session, which must never accumulate on the
    * driver's block manager.
    */
  def sessionize(spark: SparkSession, srcDir: String, queryName: String,
      gap: String = "30 minutes", watermark: String = "2 hours",
      warehouse: Option[String] = None, statePartitions: Int = 8): DataFrame =
    drainToTable(spark, queryName, warehouse, statePartitions,
      "session_start TIMESTAMP, session_end TIMESTAMP, user_id BIGINT, " +
        "n_events BIGINT, n_event_types BIGINT") { s2 =>
      val schema = s2.read.parquet(srcDir).schema
      val raw = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10).parquet(srcDir)
      val withTs =
        if (schema.fieldNames.contains("ts") &&
            schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      withTs
        .withWatermark("ts", watermark)
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          // countDistinct is unsupported in streaming aggs; collect_set is
          // mergeable across session-window merges and sized on emit
          size(collect_set(col("event_type"))).cast("long").as("n_event_types"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("n_event_types"))
    }

  /** Streaming cross-batch exact dedup with CUSTOM state
    * (`flatMapGroupsWithState` — the KeyValueGroupedDataset escape hatch
    * for state machines the built-in windowed aggregates can't express):
    * documents arrive in micro-batches; a document is emitted the FIRST
    * time its content hash is seen across the whole stream and suppressed
    * on every later sighting, in the same batch or any later one. This is
    * the streaming sibling of [[graft.operators.Dedup]] — the dedup an
    * ingestion pipeline needs when the corpus arrives continuously and
    * re-crawls repeat earlier content.
    *
    * Scale: state is one (hash → kept id) entry per DISTINCT document,
    * partitioned across the state store by the 64-hex-char hash (the
    * shuffle key — same layout as the batch operator), so memory per
    * state partition is bounded by distinct content, not stream length.
    * State timeout is deliberately NoTimeout: under
    * `ProcessingTimeTimeout`, `FlatMapGroupsWithStateExec
    * .shouldRunAnotherBatch` is unconditionally true (a wall-clock
    * timeout can fire at any instant), so a bounded drain — AvailableNow
    * termination, or `processAllAvailable` — never completes; both were
    * measured spinning thousands of empty batches. A continuous 24/7
    * deployment that needs a retention horizon on state should use
    * [[dedupStreamTtl]] (Spark 4 `transformWithState` with state TTL).
    *
    * Sink: the first-seen stream lands in a graft SNAPSHOT TABLE through
    * the exactly-once DSv2 streaming sink ([[graft.table
    * .GraftStreamingWrite]] — one epoch-tagged snapshot per micro-batch,
    * idempotent across restarts), at `<warehouse>/db/<name>`. Never a
    * memory sink: at ingestion scale the first-seen stream is one row per
    * DISTINCT document, and materializing that on the driver's block
    * manager is the scale-killer the table sink exists to avoid. Each
    * call is a one-shot bounded drain into a FRESH table (checkpoint and
    * output location are reset); a resumable 24/7 deployment keeps its
    * own checkpoint and table and uses the TTL variant.
    */
  def dedupStream(spark: SparkSession, srcDir: String, name: String,
      maxFilesPerTrigger: Int = 1, statePartitions: Int = 8,
      warehouse: Option[String] = None): DataFrame =
    drainToTable(spark, name, warehouse, statePartitions,
      "keep_doc_id BIGINT, content_hash STRING", noDataBatches = false)(
      s2 => firstSeenStream(s2, srcDir, maxFilesPerTrigger))

  /** The shared first-seen state machine of the dedup streams: documents
    * keyed by content hash, one (keep_doc_id, content_hash) row emitted
    * per distinct content, suppression across micro-batches via
    * flatMapGroupsWithState (see [[dedupStream]] for the state-layout and
    * timeout rationale). */
  private def firstSeenStream(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = spark.read.parquet(srcDir).schema
    val keyed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir)
      .select(col("doc_id").cast("long").as("doc_id"),
        sha2(col("text"), 256).as("content_hash"))
      .as[(Long, String)]
      .groupByKey(_._2)
    keyed.flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (hash: String, docs: Iterator[(Long, String)], state: GroupState[Long]) => {
        if (state.exists) Iterator.empty // seen in an earlier batch
        else {
          val keep = docs.map(_._1).min // deterministic within the batch
          state.update(keep)
          Iterator.single((keep, hash))
        }
      }).toDF("keep_doc_id", "content_hash")
  }

  /** TTL-bounded CONTINUOUS streaming dedup — the 24/7 sibling of
    * [[dedupStream]], built on Spark 4's `transformWithState` processor
    * API: per-hash state carries a processing-time TTL, so a deployment
    * that runs forever holds state only for content seen within the
    * retention horizon instead of accumulating one entry per distinct
    * document for all time. A re-sighting WITHIN the TTL is suppressed;
    * after the TTL expires the hash's state is evicted and the content is
    * treated as new again (the standard retention trade: bounded state,
    * duplicates separated by more than the horizon pass through).
    *
    * Unlike the one-shot [[dedupStream]], this RESUMES: an existing
    * checkpoint, state store, and output table are picked up, so
    * successive calls model successive drains of a long-lived pipeline.
    *
    * Drain termination: `TransformWithStateExecBase.shouldRunAnotherBatch`
    * is unconditionally true in ProcessingTime time mode (the same
    * never-terminating-drain trap as fMGWS's ProcessingTimeTimeout, still
    * TODO'd upstream as SPARK-50180), so this query disables no-data
    * micro-batches for its run: nothing here needs them — no timers are
    * registered, TTL expiry is enforced on state READ and physically
    * cleaned up during later batch commits — and with them enabled an
    * AvailableNow drain spins empty batches forever.
    */
  def dedupStreamTtl(spark: SparkSession, srcDir: String, name: String,
      ttl: java.time.Duration, maxFilesPerTrigger: Int = 1,
      warehouse: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import graft.table.{GraftCatalog, SnapshotTable}
    // the two conf flips this query needs (RocksDB provider for
    // transformWithState; no-data micro-batches off for drain
    // termination) live on a CLONED session, so a stream STARTING
    // concurrently on the caller's session never inherits them
    val s2 = spark.newSession()
    import s2.implicits._
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // toTable resolves its catalog through SparkSession.ACTIVE, not the
    // DataFrame's own session — pin the clone as active for the drain or
    // the `dedup_*` catalog registered on it is invisible to resolution
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    try {
      val schema = s2.read.parquet(srcDir).schema
      val ckpt = Tables.scratch(s"ckpt/$name") // kept across calls: resumable
      val wh = warehouse.getOrElse(Tables.scratch(s"dedupwh/$name"))
      val loc = s"$wh/db/$name"
      val cat = Streams.warehouseCatalogName(wh)
      s2.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      s2.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      if (!SnapshotTable.exists(loc))
        s2.sql(s"CREATE TABLE $cat.db.`$name` (keep_doc_id BIGINT, content_hash STRING)")
      val firstSeen = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir)
        .select(col("doc_id").cast("long").as("doc_id"),
          sha2(col("text"), 256).as("content_hash"))
        .as[(Long, String)]
        .groupByKey(_._2)
        .transformWithState(new Streams.FirstSeenTtlProcessor(ttl.toMillis),
          TimeMode.ProcessingTime(), OutputMode.Append())
        .toDF("keep_doc_id", "content_hash")
      firstSeen.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.db.`$name`")
        .awaitTermination()
      SnapshotTable.load(spark, loc).read()
    } finally prevActive match {
      // a no-op foreach here would LEAK the conf-flipped clone as the
      // thread's active session when the caller had none (fresh thread)
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Catalog name keyed by the FULL warehouse path (sanitized, injective
    * up to sanitization): Spark caches catalog instances per name, so a
    * name that merely hashed the path could collide across warehouses
    * and permanently pin the first one for both. */
  private def warehouseCatalogName(warehouse: String): String =
    "gwh_" + warehouse.replaceAll("[^a-zA-Z0-9]", "_")

  /** Largest touched-key IN predicate a dynamic-table refresh will build
    * before degrading to a full rewrite (see [[DynamicTable.refresh]]). */
  private val MaxTouchedIn = 4096

  /** First-seen state machine with per-entry TTL for [[dedupStreamTtl]]:
    * state reads return nothing once an entry's TTL lapsed (expiry is
    * enforced on read; physical cleanup rides later batch commits), so an
    * expired hash re-emits exactly like new content. */
  private class FirstSeenTtlProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (Long, String), (Long, String)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(java.time.Duration.ofMillis(ttlMs)))

    override def handleInputRows(hash: String, docs: Iterator[(Long, String)],
        timers: TimerValues): Iterator[(Long, String)] = {
      if (seen.exists()) Iterator.empty // seen within the TTL horizon
      else {
        val keep = docs.map(_._1).min
        seen.update(keep)
        Iterator.single((keep, hash))
      }
    }
  }

  /** T2: a dynamic table — incremental refresh of a per-user aggregate via
    * foreachBatch merging each micro-batch into a snapshot table. The
    * merge recomputes only groups present in the batch (shuffle keyed by
    * user_id), then commits atomically; equivalent to the reference's
    * `TARGET_LAG` refresh loop with availableNow playing the scheduler.
    *
    * Aggregate shape matches the reference's dynamic table
    * (`aws-community-builders-presentation.md:758-766`): per user —
    * event count, total value, `MAX(timestamp)` as last_seen, and
    * `ARRAY_AGG(DISTINCT event_type)`. Every component is mergeable
    * across batches (sum/sum/greatest/array-union), which is what makes
    * the refresh incremental instead of a recompute.
    *
    * Refresh I/O is incremental too: each batch reads back only the
    * CURRENT rows of the users it touched (a `user_id IN (...)` read over
    * the MV, file-pruned by manifest stats), merges the delta into them,
    * and commits through [[SnapshotTable.replaceWhere]] — untouched files
    * keep their place in the new snapshot by reference, so a 1-user batch
    * on a bucketed MV rewrites O(1) files, not O(users). `partitionCols`
    * (e.g. `Seq("bucket(16,user_id)")`) clusters the MV's files by user
    * so the stats split actually bites; the touched-user list is bounded
    * by the batch's group-key cardinality (the same bound that makes the
    * aggregate itself feasible), never by table size.
    */
  /** T2 at Snowflake's ACTUAL `TARGET_LAG` semantics
    * (`aws-community-builders-presentation.md:751-766`): a dynamic table
    * whose SOURCE is itself a graft table, refreshed incrementally
    * through the source's CDC changelog ([[graft.table.SnapshotTable.changes]])
    * — so a refresh crosses MERGE / DELETE / rollback commits exactly,
    * where the appends-only [[DynamicTable]] stream would fail the run.
    *
    * Refresh protocol (exact under any commit mix):
    *   1. read the MV's `graft.cdc.last-version` watermark property;
    *   2. `src.changes(watermark, head)` → the distinct touched group
    *      keys (bounded by the DELTA's key cardinality, never table size);
    *   3. recompute exactly those groups from the source's CURRENT state
    *      — recompute, not delta-merge, because a deleted or updated row
    *      cannot be "subtracted" from a MAX/collect_set aggregate — and
    *      swap them in via replaceWhere (file-confined on a bucketed MV);
    *   4. advance the watermark.
    * A crash between 3 and 4 replays the delta idempotently (the
    * recompute is state-free). A delta touching more than `MaxTouchedIn`
    * keys degrades to the full rebuild the IN-predicate would have
    * amounted to anyway — same bound as [[DynamicTable]].
    */
  final class CdcDynamicTable(spark: SparkSession, location: String,
      partitionCols: Seq[String] = Seq.empty) {
    import graft.table.SnapshotTable

    val WatermarkProp = "graft.cdc.last-version"

    private def aggregate(rows: DataFrame): DataFrame =
      rows.groupBy("user_id").agg(
        count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(28,2)")
          .as("total_value"),
        max(col("ts")).as("last_seen"),
        sort_array(collect_set(col("event_type"))).as("event_types"))

    def refresh(sourceLoc: String): DataFrame = {
      val src = SnapshotTable.load(spark, sourceLoc)
      val head = src.latestVersion
      val found = SnapshotTable.find(spark, location)
      if (found.isEmpty) {
        // watermark rides the creating commit — one snapshot, not two
        val t = SnapshotTable.create(spark, location, aggregate(src.read()),
          partitionCols, properties = Map(WatermarkProp -> head.toString))
        return t.read()
      }
      val mv = found.get
      val last = mv.properties.get(WatermarkProp).map(_.trim.toInt).getOrElse(-1)
      if (head > last) {
        // changedKeyRows, not changes(): the refresh recomputes touched
        // groups from CURRENT state, so it needs a delta-bounded superset
        // of changed keys, never the exact typed changelog — the superset
        // skips per-commit ledger application and batches the whole range
        // into at most three scans (see [[SnapshotTable.changedKeyRows]]).
        // A spuriously-included key recomputes to its identical group row.
        val touched = src.changedKeyRows(last, head, Seq("user_id"))
          .distinct().limit(MaxTouchedIn + 1).collect().map(_.get(0))
        if (touched.nonEmpty) {
          // NULL-SAFE scope, same reasoning as DynamicTable.refresh: a
          // null group key needs an IS NULL disjunct or its MV row would
          // be excluded from the swap yet not replaced
          val (nullKeys, keys) = touched.partition(_ == null)
          val cond =
            if (touched.length > MaxTouchedIn) lit(true)
            else Seq(
              Option.when(keys.nonEmpty)(
                col("user_id").isin(keys.toIndexedSeq: _*)),
              Option.when(nullKeys.nonEmpty)(col("user_id").isNull)
            ).flatten.reduce(_ || _)
          // groups whose every row was deleted recompute to NO row and
          // correctly vanish from the MV (replaceWhere removes, nothing
          // re-inserted). The advanced watermark rides the SAME commit —
          // atomicity is a bonus (a crash can no longer land the data
          // without the watermark), the saved snapshot commit is the point.
          mv.replaceWhere(cond, aggregate(src.read().filter(cond)),
            "dynamic-refresh", setProps = Map(WatermarkProp -> head.toString))
        } else mv.setProperties(Map(WatermarkProp -> head.toString))
      }
      SnapshotTable.load(spark, location).read()
    }
  }

  final class DynamicTable(spark: SparkSession, location: String,
      partitionCols: Seq[String] = Seq.empty, maxFilesPerTrigger: Int = 5) {
    import graft.table.SnapshotTable

    def refresh(srcDir: String, name: String): DataFrame = {
      // the whole refresh runs on a CLONED session: the nanos conf and
      // any planning state of the drain never leak to (or race with)
      // queries on the caller's session
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s2.read.parquet(srcDir).schema
      val ckpt = Tables.scratch(s"ckpt/dyn_$name")
      Tables.deleteRecursively(ckpt)
      Tables.deleteRecursively(location)
      val raw = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir)
      val emptyArr = array().cast("array<string>")
      val q = raw.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (rawBatch: DataFrame, _: Long) =>
          val sb = rawBatch.sparkSession // the micro-batch's cloned session
          val batch =
            if (rawBatch.schema("ts").dataType == org.apache.spark.sql.types.LongType)
              rawBatch.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
            else rawBatch
          val delta = batch.groupBy("user_id")
            .agg(count(lit(1)).as("event_count"),
              sum(col("value").cast("decimal(18,2)")).as("total_value"),
              max(col("ts")).as("last_seen"),
              sort_array(collect_set(col("event_type"))).as("event_types"))
            .persist() // read twice: touched-id collect + the merge join
          try {
            val mv = SnapshotTable.find(sb, location)
            if (mv.isDefined) {
              // touched group keys, bounded by the batch's user
              // cardinality — the replace predicate AND the merge scope.
              // A very wide batch (first catch-up batch touching most
              // users) would build a pathological N-thousand-literal IN
              // that costs more to evaluate than it saves, so past the
              // bound the refresh degrades to the full rewrite the IN
              // would have amounted to anyway.
              val touched = delta.select("user_id")
                .limit(MaxTouchedIn + 1).collect().map(_.get(0))
              if (touched.nonEmpty) {
                val t = mv.get
                // NULL-SAFE replace scope: a plain IN evaluates to NULL
                // for the MV's null-keyed row — excluded from the merge
                // read yet NOT replaced by replaceWhere (only cond=TRUE
                // rows are), which would duplicate the null-user group.
                // A null key gets an explicit IS NULL disjunct instead.
                val (nullKeys, keys) = touched.partition(_ == null)
                val cond =
                  if (touched.length > MaxTouchedIn) lit(true)
                  else Seq(
                    Option.when(keys.nonEmpty)(
                      col("user_id").isin(keys.toIndexedSeq: _*)),
                    Option.when(nullKeys.nonEmpty)(col("user_id").isNull)
                  ).flatten.reduce(_ || _)
                val cur = t.read().filter(cond)
                // null-safe join key (<=>): the delta's null-key group
                // must MERGE with the MV's null-key row, not append a
                // second partial row beside it
                val merged = cur
                  .join(delta, cur("user_id") <=> delta("user_id"), "full")
                  .select(coalesce(cur("user_id"), delta("user_id")).as("user_id"),
                    (coalesce(cur("event_count"), lit(0L)) +
                      coalesce(delta("event_count"), lit(0L))).as("event_count"),
                    // pin the sum's decimal type: + widens precision per
                    // refresh, and untouched files keep the ORIGINAL type
                    // now that they're carried by reference
                    (coalesce(cur("total_value"), lit(java.math.BigDecimal.ZERO)) +
                      coalesce(delta("total_value"), lit(java.math.BigDecimal.ZERO)))
                      .cast("decimal(28,2)").as("total_value"),
                    // greatest skips nulls → the non-null side wins
                    greatest(cur("last_seen"), delta("last_seen")).as("last_seen"),
                    array_sort(array_distinct(concat(
                      coalesce(cur("event_types"), emptyArr),
                      coalesce(delta("event_types"), emptyArr)))).as("event_types"))
                // swap only the files that might hold a touched user; the
                // rest of the MV carries over by reference (no read, no
                // rewrite) — O(touched files) I/O per refresh. On a
                // bucket-partitioned MV the touched-key IN pins the
                // bucket ids (StatsPruning.bucketDerived), so the replace
                // is file-confined even under hash layout.
                t.replaceWhere(cond, merged, "dynamic-refresh")
              }
            } else SnapshotTable.create(sb, location, delta, partitionCols)
          } finally delta.unpersist()
          ()
        }
        .start()
      q.awaitTermination()
      SnapshotTable.load(spark, location).read()
    }
  }

  /** Streaming ingest INTO a snapshot table (the reference's
    * Firehose→Iceberg landing path with ACID semantics): each micro-batch
    * commits one snapshot that also sets the stream's last-batch marker
    * ([[graft.table.SnapshotTable.streamProgress]], keyed by the checkpoint
    * name `ingest_<checkpointTag>`). A batch replayed after a restart is at
    * or below the marker and skipped, after compaction and expiry too, so
    * the sink is exactly-once end-to-end (file-source offsets in the
    * checkpoint + idempotent commit on the table side).
    */
  def streamIntoTable(spark: SparkSession, srcDir: String, tableLoc: String,
      checkpointTag: String): graft.table.SnapshotTable = {
    import graft.table.SnapshotTable
    // Isolation: nanos-as-long is flipped on a CLONED session (pinned
    // active for the drain, like drainToTable) — the caller's confs are
    // never touched by this entry point.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    try {
      val schema = s2.read.parquet(srcDir).schema
      val stream = s"ingest_$checkpointTag"
      val ckpt = Tables.scratch(s"ckpt/$stream")
      val q = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 10).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // the first batch creates the table, then commits like every
          // later one
          val t = SnapshotTable.find(batch.sparkSession, tableLoc).getOrElse(
            SnapshotTable.createEmpty(batch.sparkSession, tableLoc, batch.schema))
          if (batchId > t.committedBatch(stream))
            t.append(batch, s"stream-batch-$batchId",
              setProps = SnapshotTable.streamProgress(stream, batchId))
          ()
        }
        .start()
      q.awaitTermination()
    } finally prevActive match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
    SnapshotTable.load(spark, tableLoc)
  }

  /** Streaming UPSERT into a snapshot table through merge-on-read
    * equality deletes (the Flink-Iceberg upsert-sink shape, the
    * streaming-CDC pattern Snowflake serves with Snowpipe+MERGE): each
    * micro-batch commits ONE snapshot carrying an equality delete on
    * `keyCols` plus the batch's rows as new files —
    * [[graft.table.SnapshotTable.upsertMor]], O(batch) IO with the base
    * table never read, the property that keeps a continuous upsert
    * stream feasible against a 100 TB table. Exactly-once like
    * [[streamIntoTable]], the marker keyed `upsert_<checkpointTag>`.
    * Readers pay the MOR anti-join until `CALL system.compact`
    * folds the ledger (the documented maintenance contract).
    */
  def upsertStream(spark: SparkSession, srcDir: String, tableLoc: String,
      keyCols: Seq[String], checkpointTag: String,
      maxFilesPerTrigger: Int = 10): graft.table.SnapshotTable = {
    import graft.table.SnapshotTable
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val prevActive = SparkSession.getActiveSession
    SparkSession.setActiveSession(s2)
    try {
      val schema = s2.read.parquet(srcDir).schema
      val stream = s"upsert_$checkpointTag"
      val ckpt = Tables.scratch(s"ckpt/$stream")
      val q = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val t = SnapshotTable.find(batch.sparkSession, tableLoc).getOrElse(
            SnapshotTable.createEmpty(batch.sparkSession, tableLoc, batch.schema))
          // within-batch key dedup: an upsert's equality delete never
          // applies to its own files, so two same-key rows in one epoch
          // would BOTH land — keep one per key (Flink's upsert sink keeps
          // the checkpoint's last row the same way; with no ordering
          // column the survivor is arbitrary but the key is unique)
          if (batchId > t.committedBatch(stream))
            t.upsertMor(batch.dropDuplicates(keyCols), keyCols,
              s"upsert-$checkpointTag-batch-$batchId",
              setProps = SnapshotTable.streamProgress(stream, batchId))
          ()
        }
        .start()
      q.awaitTermination()
    } finally prevActive match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
    SnapshotTable.load(spark, tableLoc)
  }

  /** T3: materialized-view refresh by full recompute + atomic publish. */
  def refreshMaterializedView(spark: SparkSession, mvDir: String,
      compute: => DataFrame): DataFrame = {
    import graft.table.SnapshotTable
    val df = compute
    val t = SnapshotTable.find(spark, mvDir) match {
      case Some(t) => t.overwrite(df); t
      case None => SnapshotTable.create(spark, mvDir, df)
    }
    t.read()
  }
}

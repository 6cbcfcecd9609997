package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkFunSuite {
  import spark.implicits._

  test("dynamic table incremental refresh equals batch recompute") {
    val src = scratch("dyn-src")
    graft.Tables.load(spark, sf, "events")
      .repartition(6).write.parquet(src) // several files → several batches
    val loc = scratch("dyn-table")
    val dyn = new Streams.DynamicTable(spark, loc)
    // full reference aggregate shape: count, sum, MAX(ts) last_seen,
    // ARRAY_AGG(DISTINCT event_type) — all merged incrementally per batch
    val result = dyn.refresh(src, "streams-spec")
      .select($"user_id", $"event_count", $"total_value".cast("double"),
        $"last_seen", array_join($"event_types", ",").as("event_types"))
    val expected = spark.read.parquet(src)
      .groupBy("user_id")
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        max(col("ts")).as("last_seen"),
        array_join(sort_array(collect_set(col("event_type"))), ",").as("event_types"))
    assert(result.exceptAll(expected).isEmpty && expected.exceptAll(result).isEmpty)
  }

  test("dynamic table refresh rewrites only the files of touched users") {
    val src = scratch("dyninc-src")
    val events = graft.Tables.load(spark, sf, "events")
    val hot = events.select("user_id").limit(1).collect()(0).get(0)
    // file 1: everything except the hot user's late events; file 2: ONLY
    // the hot user — with maxFilesPerTrigger=1 the second refresh batch
    // touches exactly one group key
    events.filter(col("user_id") =!= hot)
      .coalesce(1).write.parquet(src)
    events.filter(col("user_id") === hot)
      .coalesce(1).write.mode("append").parquet(src)
    val loc = scratch("dyninc-mv")
    // identity-partitioned MV: one file per user, min==max user stats, so
    // the replace predicate prunes exactly
    val dyn = new Streams.DynamicTable(spark, loc,
      partitionCols = Seq("user_id"), maxFilesPerTrigger = 1)
    val result = dyn.refresh(src, "streams-inc")

    val t = graft.table.SnapshotTable.load(spark, loc)
    val vFinal = t.latestVersion
    assert(vFinal >= 1, "expected at least two refresh commits")
    val prev = t.snapshot(vFinal - 1).files.map(_.path).toSet
    val fin = t.snapshot(vFinal).files.map(_.path).toSet
    // the single-user batch carries every untouched user's file BY
    // REFERENCE: nothing from the previous snapshot may be dropped except
    // the touched user's file(s)
    val dropped = prev -- fin
    assert(dropped.size <= 1,
      s"1-user refresh rewrote ${dropped.size} of ${prev.size} files")
    assert((fin -- prev).nonEmpty, "no new file for the touched user")

    // and the merged MV still equals the batch recompute over the source
    val expected = spark.read.parquet(src)
      .groupBy("user_id")
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    val got = result.select($"user_id", $"event_count", $"total_value".cast("double"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("bucketed dynamic table: a 1-user refresh rewrites only its bucket's files") {
    val src = scratch("dynbucket-src")
    val events = graft.Tables.load(spark, sf, "events")
    val hot = events.select("user_id").limit(1).collect()(0).get(0)
    events.filter(col("user_id") =!= hot).coalesce(1).write.parquet(src)
    events.filter(col("user_id") === hot)
      .coalesce(1).write.mode("append").parquet(src)
    val loc = scratch("dynbucket-mv")
    // HASH layout (the 100 TB shape — identity per user is a non-starter
    // at millions of keys): pruning must come from the bucket-derived
    // partition-value stats, since hash destroys min/max value order
    val dyn = new Streams.DynamicTable(spark, loc,
      partitionCols = Seq("bucket(8,user_id)"), maxFilesPerTrigger = 1)
    val result = dyn.refresh(src, "streams-bucket-inc")

    val t = graft.table.SnapshotTable.load(spark, loc)
    val vFinal = t.latestVersion
    assert(vFinal >= 1, "expected at least two refresh commits")
    val prev = t.snapshot(vFinal - 1).files
    val fin = t.snapshot(vFinal).files.map(_.path).toSet
    // the 1-user batch may rewrite ONLY files of that user's bucket —
    // every other bucket's file must carry over by reference. (dropped
    // may even be EMPTY: per-file user_id min/max can prove the hot id
    // absent from its bucket file, in which case the merge appends.)
    val dropped = prev.filterNot(f => fin(f.path))
    val hotBucket = graft.table.BucketFunction.bucketId(hot, 8)
    assert(dropped.forall(f =>
      f.stats.get("bucket(8,user_id)").exists(s => s.min.toInt == hotBucket)),
      s"refresh rewrote files outside bucket $hotBucket: " +
        dropped.map(f => f.stats.get("bucket(8,user_id)")).mkString(", "))
    assert(dropped.size < prev.size,
      s"refresh rewrote all ${prev.size} files — no bucket confinement")
    assert((fin -- prev.map(_.path)).nonEmpty, "no new file for the touched user")

    val expected = spark.read.parquet(src)
      .groupBy("user_id")
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    val got = result.select($"user_id", $"event_count", $"total_value".cast("double"))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("dynamic table accumulates a NULL-key group instead of duplicating it") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    def rows(vs: (java.lang.Long, String, Double)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map { case (u, e, v) =>
        org.apache.spark.sql.Row(u, e, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), v)
      }), schema)
    val src = scratch("dynnull-src")
    // null-keyed rows arrive in BOTH batches (maxFilesPerTrigger=1): the
    // second refresh must MERGE into the MV's null row, not append a
    // duplicate partial row beside it
    rows((null, "click", 1.0), (7L, "view", 2.0)).coalesce(1).write.parquet(src)
    rows((null, "view", 3.0), (null, "click", 4.0))
      .coalesce(1).write.mode("append").parquet(src)
    val loc = scratch("dynnull-mv")
    val dyn = new Streams.DynamicTable(spark, loc, maxFilesPerTrigger = 1)
    val result = dyn.refresh(src, "streams-null-key")
    val nullRows = result.filter(col("user_id").isNull)
    assert(nullRows.count() == 1,
      s"null-key group duplicated: ${nullRows.collect().mkString("; ")}")
    val r = nullRows.collect()(0)
    assert(r.getAs[Long]("event_count") == 3L,
      s"null-key counts not accumulated: $r")
    assert(result.count() == 2)
  }

  test("watermarked tumbling windows emit finalized windows matching batch") {
    val src = scratch("win-src")
    graft.Tables.load(spark, sf, "events")
      .orderBy("ts").coalesce(1).write.parquet(src)
    val wh = scratch("win-wh")
    val out = Streams.windowedCounts(spark, src, "streams_windowed",
      warehouse = Some(wh))
    assert(out.count() > 0, "no finalized windows emitted")
    // finalized windows land in a graft snapshot TABLE through the
    // exactly-once streaming sink (epoch-tagged snapshots) — never a
    // driver-side memory sink
    val t = graft.table.SnapshotTable.load(spark, s"$wh/db/streams_windowed")
    val tags = t.versions.map(v => t.snapshot(v).operation)
      .filter(_.startsWith("stream-"))
    assert(tags.nonEmpty, "no epoch-tagged snapshots on the windowed table")
    assert(tags.distinct.size == tags.size)
    // every emitted (window, event_type) row must equal the batch count
    val batch = spark.read.parquet(src)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("expected"))
      .select(col("window.start").as("window_start"), col("event_type"), col("expected"))
    val joined = out.join(batch, Seq("window_start", "event_type"), "left")
    assert(joined.filter(col("expected").isNull ||
      col("expected") =!= col("event_count")).count() == 0)
  }

  test("sliding windows emit overlapping finalized windows matching batch") {
    val src = scratch("slide-src")
    graft.Tables.load(spark, sf, "events")
      .orderBy("ts").coalesce(1).write.parquet(src)
    val out = Streams.windowedCounts(spark, src, "streams_sliding",
      windowLen = "2 days", slide = Some("1 day"))
    assert(out.count() > 0)
    val batch = spark.read.parquet(src)
      .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("expected"))
      .select(col("window.start").as("window_start"), col("event_type"), col("expected"))
    val joined = out.join(batch, Seq("window_start", "event_type"), "left")
    assert(joined.filter(col("expected").isNull ||
      col("expected") =!= col("event_count")).count() == 0)
    // sliding → strictly more window rows than tumbling at the same length
    assert(out.select("window_start").distinct().count() >
      spark.read.parquet(src).select(to_date(col("ts"))).distinct().count() / 2)
  }

  test("streaming session windows match the batch session_window recompute") {
    val src = scratch("sess-src")
    graft.Tables.load(spark, sf, "events")
      .orderBy("ts").coalesce(1).write.parquet(src)
    val wh = scratch("sess-wh")
    val out = Streams.sessionize(spark, src, "streams_sessions",
      warehouse = Some(wh))
    assert(out.count() > 0, "no closed sessions emitted")
    // closed sessions land in a snapshot table via the exactly-once sink
    val t = graft.table.SnapshotTable.load(spark, s"$wh/db/streams_sessions")
    assert(t.versions.map(v => t.snapshot(v).operation)
      .exists(_.startsWith("stream-")), "no epoch-tagged session snapshots")
    val batch = spark.read.parquet(src)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("expected"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("expected"))
    // every emitted (session_start, user) must agree with batch exactly
    val joined = out.join(batch, Seq("session_start", "user_id"), "left")
    assert(joined.filter(col("expected").isNull ||
      col("expected") =!= col("n_events")).count() == 0)
  }

  test("complete-mode streaming aggregate lands in a table, caller confs untouched") {
    val src = scratch("aggdrain-src")
    graft.Tables.load(spark, sf, "events")
      .repartition(3).write.parquet(src)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val wh = scratch("aggdrain-wh")
    val out = Streams.streamingAggregate(spark, src, "streams_complete_agg",
      warehouse = Some(wh))
    // the drain must not flip confs on the CALLER's session — a concurrent
    // query planning mid-drain would silently pick them up
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevShuffle)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") == prevNanos)
    // complete mode through the sink's truncate path: the FINAL snapshot
    // holds exactly the last epoch's full recompute (no append pile-up)
    val expected = spark.read.parquet(src).groupBy("event_type")
      .agg(count(lit(1)).as("event_count"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
    val t = graft.table.SnapshotTable.load(spark, s"$wh/db/streams_complete_agg")
    val tags = t.versions.map(v => t.snapshot(v).operation)
    assert(tags.exists(_.startsWith("stream-")), "no epoch-tagged snapshots")
    // multiple epochs ran (several source files, maxFilesPerTrigger=10 →
    // possibly one; force at least the final count check): every epoch
    // REPLACED the content, so the table row count equals the group count
    assert(t.read().count() == expected.count())
  }

  test("materialized view refresh republishes atomically") {
    val mv = scratch("mv-refresh")
    val first = Streams.refreshMaterializedView(spark, mv, {
      graft.Tables.load(spark, sf, "events").groupBy("event_type").count()
    })
    assert(first.count() == 5)
    val second = Streams.refreshMaterializedView(spark, mv, {
      graft.Tables.load(spark, sf, "events")
        .filter(col("event_type") === "purchase").groupBy("event_type").count()
    })
    assert(second.count() == 1) // fully replaced, not appended
    val t = graft.table.SnapshotTable.load(spark, mv)
    assert(t.readVersion(0).count() == 5) // previous MV still time-travelable
  }

  test("streaming ingest into a snapshot table is incremental and exactly-once") {
    val events = graft.Tables.load(spark, sf, "events")
    val src = scratch("ingest-src")
    events.filter(col("event_id") < 600).repartition(3).write.parquet(src)
    val loc = scratch("ingest-table")
    graft.Tables.deleteRecursively(graft.Tables.scratch("ckpt/ingest_ingest-test"))

    val t1 = Streams.streamIntoTable(spark, src, loc, "ingest-test")
    assert(t1.read().count() == 600)
    assert(t1.versions.map(t1.snapshot).exists(_.operation.startsWith("stream-batch-")))
    val v1 = t1.versions

    // same checkpoint, no new files → no new snapshots committed
    val t2 = Streams.streamIntoTable(spark, src, loc, "ingest-test")
    assert(t2.versions == v1)

    // new source file → exactly the delta lands in a new tagged snapshot
    events.filter(col("event_id") >= 600).coalesce(1)
      .write.mode("append").parquet(src)
    val t3 = Streams.streamIntoTable(spark, src, loc, "ingest-test")
    assert(t3.read().count() == events.count())
    assert(t3.versions.size == v1.size + 1)
  }

  test("streamIntoTable: a second stream with a fresh checkpoint is not skipped as replay") {
    val events = graft.Tables.load(spark, sf, "events")
    val srcA = scratch("ingest-two-srcA")
    val srcB = scratch("ingest-two-srcB")
    events.filter(col("event_id") < 300).repartition(2).write.parquet(srcA)
    events.filter(col("event_id") >= 300).repartition(2).write.parquet(srcB)
    val loc = scratch("ingest-two-table")
    Seq("two-a", "two-b").foreach(tag =>
      graft.Tables.deleteRecursively(graft.Tables.scratch(s"ckpt/ingest_$tag")))
    Streams.streamIntoTable(spark, srcA, loc, "two-a")
    // the second stream's batch ids restart at 0, like the first's
    val t = Streams.streamIntoTable(spark, srcB, loc, "two-b")
    assert(t.read().count() == events.count())
  }

  test("streamIntoTable: a batch replayed after its snapshot is expired lands once") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val src = scratch("ingest-expired-src")
    graft.Tables.load(spark, sf, "events").repartition(3).write.parquet(src)
    val loc = scratch("ingest-expired-table")
    val ckpt = graft.Tables.scratch("ckpt/ingest_ingest-expired")
    graft.Tables.deleteRecursively(ckpt)
    val t = Streams.streamIntoTable(spark, src, loc, "ingest-expired")
    val rows = t.read().count()
    // the crash window: the table commit landed, Spark's commit-log entry
    // for the batch did not
    val commits = Paths.get(ckpt, "commits")
    val last = scala.util.Using.resource(Files.list(commits))(_.iterator()
      .asScala.map(_.getFileName.toString).flatMap(_.toLongOption).max)
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    // no surviving snapshot is labelled with the batch any more
    t.compact()
    t.expireSnapshots(1)
    assert(!t.versions.map(t.snapshot).exists(_.operation.startsWith("stream-batch-")))
    val replayed = Streams.streamIntoTable(spark, src, loc, "ingest-expired")
    assert(replayed.read().count() == rows)
  }

  test("streamIntoTable leaves the caller session's confs untouched") {
    val events = graft.Tables.load(spark, sf, "events")
    val src = scratch("ingest-isolation-src")
    events.filter(col("event_id") < 100).coalesce(1).write.parquet(src)
    val loc = scratch("ingest-isolation-table")
    graft.Tables.deleteRecursively(graft.Tables.scratch("ckpt/ingest_ingest-isolation"))
    // a FRESH caller session whose confs are at their defaults — if the
    // entry point flips nanosAsLong (or anything else) on the caller
    // instead of a clone, the before/after compare catches it
    val caller = spark.newSession()
    val watched = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.outputTimestampType",
      "spark.sql.shuffle.partitions")
    val before = watched.map(k => k -> caller.conf.get(k)).toMap
    val prevActive = org.apache.spark.sql.SparkSession.getActiveSession
    val t = Streams.streamIntoTable(caller, src, loc, "ingest-isolation")
    assert(t.read().count() == 100)
    watched.foreach { k =>
      assert(caller.conf.get(k) == before(k),
        s"streamIntoTable mutated caller conf $k: ${before(k)} -> ${caller.conf.get(k)}")
    }
    assert(org.apache.spark.sql.SparkSession.getActiveSession == prevActive,
      "streamIntoTable leaked a different active session")
  }

  test("stateful streaming dedup suppresses duplicates across micro-batches") {
    import spark.implicits._
    val src = scratch("statefuldedup-src")
    // duplicates deliberately land in SEPARATE files; maxFilesPerTrigger=1
    // forces one batch per file, so suppression can only come from the
    // cross-batch flatMapGroupsWithState state, not in-batch grouping
    Seq((1L, "alpha text"), (2L, "beta text"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(src)
    Seq((3L, "alpha text"), (4L, "gamma text"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val wh = scratch("statefuldedup-wh")
    val out = Streams.dedupStream(spark, src, "sd_crossbatch",
        warehouse = Some(wh))
      .select("keep_doc_id").as[Long].collect().toSet
    assert(out.size == 3, s"expected one survivor per distinct text, got $out")
    assert(out.contains(2L) && out.contains(4L))
    assert((out.contains(1L) || out.contains(3L)) && !(out.contains(1L) && out.contains(3L)),
      s"exactly one of the duplicate pair must survive: $out")

    // the dedup output is a graft snapshot TABLE written through the
    // exactly-once streaming sink: epoch-tagged snapshots, one per
    // micro-batch that emitted rows — never a driver-side memory sink
    val t = graft.table.SnapshotTable.load(spark, s"$wh/db/sd_crossbatch")
    val epochTags = t.versions.map(v => t.snapshot(v).operation)
      .filter(_.startsWith("stream-"))
    assert(epochTags.nonEmpty, "no epoch-tagged snapshots on the dedup table")
    assert(epochTags.distinct.size == epochTags.size)
  }

  test("stateful streaming dedup equals batch distinct count on the corpus") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val src = scratch("statefuldedup-corpus")
    docs.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .repartition(4).write.parquet(src)
    val emitted = Streams.dedupStream(spark, src, "sd_corpus").count()
    val distinct = docs.select("text").distinct().count()
    assert(emitted == distinct)
  }

  test("TTL dedup: duplicates suppressed within the horizon (resumed state)") {
    import spark.implicits._
    val src = scratch("ttlsupp-src")
    val wh = scratch("ttlsupp-wh")
    // the checkpoint + state store persist BETWEEN the two drains of this
    // test (that is the resume being tested) — but a previous TEST RUN's
    // state inside the TTL horizon would suppress this run's docs, so
    // start from a clean checkpoint
    graft.Tables.deleteRecursively(graft.Tables.scratch("ckpt/sd_ttl_supp"))
    // generous horizon: the assertion must not race two full streaming
    // drains (cloned session + RocksDB startup + query lifecycle each)
    // against the wall clock on a loaded machine
    val ttl = java.time.Duration.ofMinutes(5)

    Seq((1L, "alpha text"), (2L, "beta text"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(src)
    val out1 = Streams.dedupStreamTtl(spark, src, "sd_ttl_supp", ttl,
      warehouse = Some(wh))
    assert(out1.count() == 2)

    // drain 2, within the TTL: a duplicate is suppressed by state RESUMED
    // from the previous drain's checkpoint; fresh content emits
    Seq((3L, "alpha text"), (4L, "gamma text"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val out2 = Streams.dedupStreamTtl(spark, src, "sd_ttl_supp", ttl,
      warehouse = Some(wh))
      .select("keep_doc_id").as[Long].collect().toSet
    assert(out2 == Set(1L, 2L, 4L), s"duplicate not suppressed within TTL: $out2")
  }

  test("TTL dedup: expired state is evicted and the hash re-emits") {
    import spark.implicits._
    val src = scratch("ttlevict-src")
    val wh = scratch("ttlevict-wh")
    graft.Tables.deleteRecursively(graft.Tables.scratch("ckpt/sd_ttl_evict"))
    // tiny horizon: eviction only needs the sleep to EXCEED the TTL,
    // which no scheduler delay can invalidate
    val ttl = java.time.Duration.ofSeconds(2)

    Seq((1L, "alpha text"), (2L, "beta text"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(src)
    assert(Streams.dedupStreamTtl(spark, src, "sd_ttl_evict", ttl,
      warehouse = Some(wh)).count() == 2)

    // after the horizon: the expired hash is treated as new again —
    // bounded state means duplicates separated by more than the horizon
    // pass through (the retention trade, by design)
    Thread.sleep(ttl.toMillis + 1500)
    Seq((9L, "alpha text"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    val out = Streams.dedupStreamTtl(spark, src, "sd_ttl_evict", ttl,
      warehouse = Some(wh))
      .select("keep_doc_id").as[Long].collect().toSet
    assert(out.contains(9L), s"expired hash was not re-emitted: $out")
    assert(out == Set(1L, 2L, 9L), s"unexpected rows: $out")
  }
}

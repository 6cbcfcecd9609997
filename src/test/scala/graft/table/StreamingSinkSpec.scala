package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** The DSv2 streaming sink: `writeStream.toTable` into a graft catalog
  * table, epoch-committed snapshots, exactly-once across restarts. */
class StreamingSinkSpec extends SparkFunSuite {

  test("writeStream.toTable appends epoch snapshots and replays exactly once") {
    val wh = scratch("streamsink-wh")
    spark.conf.set("spark.sql.catalog.ssx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ssx.warehouse", wh)
    val src = scratch("streamsink-src")
    graft.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(6).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    spark.sql(
      """CREATE TABLE ssx.db.sink
        |  (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)""".stripMargin)

    val ckpt = scratch("streamsink-ckpt")
    def runOnce(): Unit =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("ssx.db.sink")
        .awaitTermination()

    runOnce()
    val expected = spark.read.parquet(src).count()
    assert(spark.table("ssx.db.sink").count() == expected)

    // several micro-batches → several epoch-tagged snapshots
    val t = SnapshotTable.load(spark, s"$wh/db/sink")
    val epochTags = t.versions.map(v => t.snapshot(v).operation)
      .filter(_.startsWith("stream-"))
    assert(epochTags.size >= 2, s"expected multiple epochs, got $epochTags")
    assert(epochTags.distinct.size == epochTags.size)

    // restart on the same checkpoint with no new input: no duplicates
    runOnce()
    assert(spark.table("ssx.db.sink").count() == expected)

    // pruning and aggregates still work through the manifest
    val direct = spark.read.parquet(src)
      .filter(col("event_type") === "purchase").count()
    assert(spark.sql(
      "SELECT count(*) FROM ssx.db.sink WHERE event_type = 'purchase'")
      .head().getLong(0) == direct)
  }

  test("replay stays exactly-once after the epoch snapshots are expired") {
    import org.apache.spark.sql.types._
    val loc = scratch("streamsink-exp-table")
    val seed = spark.range(0).selectExpr("id AS event_id")
    val t = SnapshotTable.create(spark, loc, seed)
    val schema = StructType(Seq(StructField("event_id", LongType)))
    val w = new GraftStreamingWrite(loc, schema, "q-exp-test")
    // a replayed epoch's executors re-stage their files from scratch, so
    // each delivery plants a fresh staged parquet before commit()
    def stagedMsg(epoch: Long): GraftStreamingWrite.StagedFiles = {
      val tmp = scratch(s"streamsink-exp-tmp-$epoch-${System.nanoTime()}")
      spark.range(5).selectExpr("id AS event_id").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dir = java.nio.file.Paths.get(loc, "_staging", s"stream-q-exp-test-$epoch")
      java.nio.file.Files.createDirectories(dir)
      val dest = dir.resolve(s"part-${java.util.UUID.randomUUID}.parquet")
      java.nio.file.Files.copy(part, dest)
      GraftStreamingWrite.StagedFiles(Seq(dest.toString))
    }
    w.commit(0, Array(stagedMsg(0)))
    assert(t.read().count() == 5)
    // land an unrelated commit, then expire everything before it: the
    // snapshot log no longer witnesses epoch 0 anywhere
    t.append(spark.range(1).selectExpr("900001 + id AS event_id"))
    t.expireSnapshots(keepLast = 1)
    assert(!t.versions.map(v => t.snapshot(v).operation).exists(_.startsWith("stream-")))
    // first-delivery replay of epoch 0 must be recognized via the progress
    // marker the surviving snapshot carries, and commit nothing
    w.commit(0, Array(stagedMsg(0)))
    assert(t.read().count() == 6)
  }

  test("a commit whose declared staged files vanished fails instead of marking the epoch done") {
    import org.apache.spark.sql.types._
    val loc = scratch("streamsink-gone-table")
    val t = SnapshotTable.create(spark, loc,
      spark.range(0).selectExpr("id AS event_id"))
    val schema = StructType(Seq(StructField("event_id", LongType)))
    val w = new GraftStreamingWrite(loc, schema, "q-gone-test")
    val gone = java.nio.file.Paths.get(loc, "_staging",
      "stream-q-gone-test-0", "part-vanished.parquet").toString
    // e.g. a staging sweep deleted the dir before a delayed first commit:
    // recording the epoch would durably skip a recoverable batch
    intercept[IllegalStateException] {
      w.commit(0, Array(GraftStreamingWrite.StagedFiles(Seq(gone))))
    }
    assert(t.read().count() == 0)
    // an empty append epoch commits nothing: there is nothing to replay
    w.commit(0, Array.empty)
    assert(t.read().count() == 0)
  }

  test("streaming sink into a PARTITIONED table keeps partition columns queryable") {
    val wh = scratch("streamsink-part-wh")
    spark.conf.set("spark.sql.catalog.spx", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spx.warehouse", wh)
    val src = scratch("streamsink-part-src")
    graft.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("value"))
      .repartition(4).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    spark.sql(
      """CREATE TABLE spx.db.psink
        |  (event_id BIGINT, user_id BIGINT, event_type STRING, day DATE, value DOUBLE)
        |PARTITIONED BY (day)""".stripMargin)
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
      .writeStream
      .option("checkpointLocation", scratch("streamsink-part-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("spx.db.psink")
      .awaitTermination()
    val expected = spark.read.parquet(src)
    assert(spark.table("spx.db.psink").count() == expected.count())
    // the partition column is in the streamed (flat) files, so day
    // predicates answer correctly
    val d = expected.select(max("day")).head().getDate(0).toString
    assert(spark.sql(s"SELECT count(*) FROM spx.db.psink WHERE day = DATE '$d'")
      .head().getLong(0) == expected.filter(col("day") === d).count())
  }
}

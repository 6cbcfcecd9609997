package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `Tables.load`'s timestamp normalization (SURVEY X72): the driver
  * fixtures have shipped both int64-nanos (read as Long under the legacy
  * conf) and naive-micros (read as TIMESTAMP_NTZ) encodings across
  * regenerations, and every downstream operator — watermarks, `days(ts)`
  * transforms, window functions — needs one session-zone TimestampType
  * with the same wall-clock values either way.
  */
class TablesLoadSpec extends SparkFunSuite {

  private val wallClock = "2024-01-15 07:30:00"

  test("naive-micros (NTZ) events normalize to TimestampType, wall clock preserved") {
    val dir = scratch("load-ntz")
    // TIMESTAMP_NTZ parquet: what the current driver fixtures contain
    spark.sql(s"SELECT 1L AS event_id, TIMESTAMP_NTZ '$wallClock' AS ts")
      .write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == TimestampNTZType) // precondition: raw read is NTZ
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(got == wallClock, s"wall clock moved: $got")
  }

  test("int64-nanos events normalize to TimestampType, wall clock preserved") {
    val dir = scratch("load-nanos")
    // the legacy encoding reaches Tables.load as a plain Long column
    // (spark.sql.legacy.parquet.nanosAsLong); model it directly
    val micros = java.time.LocalDateTime
      .parse(wallClock.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    spark.sql(s"SELECT 1L AS event_id, ${micros * 1000L}L AS ts")
      .write.parquet(s"$dir/events.parquet")
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .head().getString(0)
    assert(got == wallClock, s"wall clock moved: $got")
  }

  test("normalized ts predicates still push to the parquet scan") {
    val dir = scratch("load-push")
    spark.sql(
      s"""SELECT id AS event_id,
         |       TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts
         |FROM range(1000)""".stripMargin)
      .write.parquet(s"$dir/events.parquet")
    val q = Tables.load(spark, dir, "events")
      .filter(col("ts") >= lit("2024-01-01 00:10:00"))
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(ts"),
      s"ts filter not pushed: $scan")
    assert(q.count() == 400)
  }

  // The r12 fixture regeneration switched EVERY timestamp column — not
  // just events.ts — to TIMESTAMP(MICROS, isAdjustedToUTC=false), so the
  // TPC-H date predicates the scan-bound bench family depends on
  // (q26 l_shipdate, q27/q28 o_orderdate) also go through the NTZ→TZ
  // cast in Tables.load. These pin scan-eligibility per table.
  test("orders.o_orderdate predicate pushes under the NTZ encoding") {
    val dir = scratch("load-push-orders")
    spark.sql(
      s"""SELECT id AS o_orderkey,
         |       TIMESTAMP_NTZ '1995-01-01 00:00:00' + make_interval(0,0,0,id) AS o_orderdate
         |FROM range(1000)""".stripMargin)
      .write.parquet(s"$dir/orders.parquet")
    assert(spark.read.parquet(s"$dir/orders.parquet")
      .schema("o_orderdate").dataType == TimestampNTZType)
    val q = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-02-01 00:00:00").cast("timestamp"))
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("GreaterThanOrEqual(o_orderdate"),
      s"o_orderdate filter not pushed: $scan")
    assert(q.count() == 1000 - 31)
  }

  test("lineitem.l_shipdate predicate pushes under the NTZ encoding") {
    val dir = scratch("load-push-lineitem")
    spark.sql(
      s"""SELECT id AS l_orderkey,
         |       TIMESTAMP_NTZ '1998-01-01 00:00:00' + make_interval(0,0,0,id) AS l_shipdate
         |FROM range(1000)""".stripMargin)
      .write.parquet(s"$dir/lineitem.parquet")
    assert(spark.read.parquet(s"$dir/lineitem.parquet")
      .schema("l_shipdate").dataType == TimestampNTZType)
    val q = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
    val scan = q.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("LessThanOrEqual(l_shipdate"),
      s"l_shipdate filter not pushed: $scan")
    assert(q.count() == 245)
  }

  test("scratch root sits under the JVM's working directory") {
    assert(java.nio.file.Paths.get(Tables.scratch("probe"))
      .startsWith(java.nio.file.Paths.get("").toAbsolutePath))
  }
}

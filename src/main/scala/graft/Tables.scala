package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided test tables (FIXTURES.md §B).
  *
  * Mapping to the reference data model (see SURVEY.md §1 and
  * reference `demo-setup/data-generation/generate_sample_data.py:29-54`):
  * `events` plays the `user_events` fact table, `customer` plays the
  * `user_profiles` dimension (`c_custkey` → `user_id`, `c_mktsegment` →
  * `region`). The TPC-H-ish tables exercise join/agg operators at scale.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The driver fixtures have shipped two physical encodings for their
    * timestamp columns across regenerations, and `load` normalizes both
    * to session-zone `TimestampType` so every downstream operator
    * (watermarks, `days(ts)` partition transforms, window functions)
    * sees one type:
    *
    *   - parquet TIMESTAMP(NANOS): Spark's reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]), so we read the raw int64 nanos via
    *     the legacy conf and convert to microsecond TimestampType —
    *     lossless here (the driver data has no sub-µs parts), identical
    *     to what the DuckDB oracle sees (it truncates ns→µs too).
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *     TIMESTAMP_NTZ; we cast to TimestampType, which under the
    *     UTC-pinned session preserves the wall-clock value — exactly the
    *     naive value the DuckDB oracle reads.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // make ts predicates written against the converted column scan-eligible
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NanoTsFilterPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NanoTsFilterPushdown
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val df =
      if (name == "events" && raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }
  }

  /** Register every test table as a temp view (names per FIXTURES.md §B). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Fixed "today" anchor for the reference's relative-date predicates
    * (`CURRENT_DATE - n`, reference `performance_comparison.sql:73,99,153`).
    * The driver events table spans 2024-01-01 .. 2024-01-30, so we pin
    * now = 2024-01-31 to keep every query deterministic across runs and
    * identical between Spark and the DuckDB oracle.
    */
  val Anchor = "2024-01-31 00:00:00"

  /** `CURRENT_DATE - n` under the pinned anchor, as a timestamp literal. */
  def daysAgo(n: Int): String = {
    val d = java.time.LocalDate.parse(Anchor.take(10)).minusDays(n.toLong)
    s"$d 00:00:00"
  }

  /** Fingerprint of a fixture directory (relative name, size, mtime of
    * every parquet file): the driver regenerates /root/testdata between
    * rounds (two timestamp encodings shipped already), so any scratch
    * dataset derived from the fixtures must record WHAT it was built
    * from, not just which path — a cache keyed on path alone would
    * silently pair stale derived data with fresh fixtures.
    */
  def fingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) s"$dir|missing"
    else {
      import scala.jdk.CollectionConverters._
      // Files.walk streams hold open DirectoryStreams — close them
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { walk =>
        walk.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => s"${root.relativize(p)}:${java.nio.file.Files.size(p)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted.mkString(s"$dir|", ",", "")
      }
    }
  }

  /** Run `build` once per source-fixture GENERATION: a marker inside
    * `out` records [[fingerprint]] of `srcDir` plus the caller's
    * `version` tag, and the build re-runs when the fixtures were
    * regenerated, the GENERATOR changed (bump `version` with the code),
    * or it never ran. Returns `out`. Callers' builds must tolerate a
    * half-written `out` (use overwrite modes) — the marker is written
    * last. */
  def cachedDerived(srcDir: String, out: String, version: String = "v1")(
      build: => Unit): String = {
    val marker = java.nio.file.Paths.get(out, "_GRAFT_SOURCE")
    val fp = version + "\n" + fingerprint(srcDir)
    if (!java.nio.file.Files.exists(marker) ||
        new String(java.nio.file.Files.readAllBytes(marker)) != fp) {
      val t0 = System.nanoTime()
      build
      fixtureBuildNanos.addAndGet(System.nanoTime() - t0)
      java.nio.file.Files.write(marker, fp.getBytes)
    }
    out
  }

  /** Nanoseconds this JVM has spent BUILDING derived fixtures
    * ([[cachedDerived]] cache misses). The bench snapshots deltas around
    * each timed rep to report fixture-build cost separately from query
    * time — a first run at a fresh sf dir otherwise charges multi-second
    * fixture encodes to the query that happened to trigger them (r19:
    * q106's 10× first run spent 5.1 s building PDFs vs 0.2 s querying),
    * which also poisoned the plan_ms contention floors. */
  val fixtureBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Scratch space for operator outputs (partitioned layouts, snapshot
    * tables, CTAS warehouses, streaming checkpoints): `target/graft-scratch`
    * under the JVM's working directory, which sbt's forked tests and `run`
    * set to the project base — the convention of Spark's own default
    * `spark-warehouse` — so each checkout keeps its own tables.
    */
  def scratch(sub: String): String = {
    val p = java.nio.file.Paths.get("target", "graft-scratch", sub).toAbsolutePath
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Recursively delete a scratch path if it exists. */
  def deleteRecursively(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val all = scala.util.Using.resource(java.nio.file.Files.walk(root))(
        _.iterator().asScala.toSeq)
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Output-dtype guard (r20 verdict task 3): the driver hashes dtypes, and
    * no oracle query deliberately produces a decimal — Spark decimal128
    * against DuckDB float64 is exactly how q130 went hash-red in r20 while
    * values agreed. Refuse to ship such a schema (the query records as
    * failed) rather than find out in CORRECTNESS. */
  def assertNoDecimal(name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val bad = schema.fields.filter(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    require(bad.isEmpty,
      s"$name emits DecimalType column(s) ${bad.map(_.name).mkString(",")} — " +
        "the DuckDB oracle yields float64; cast to double (r20 q130 bug class)")
  }

  /** One-line dtype signature of a dump schema — name + SQL type per
    * column, nullability excluded (it legitimately varies with plan
    * shape and the driver's hash ignores it). */
  def schemaSignature(schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")

  /** Schema-snapshot guard (r21 verdict task 8, the breadth companion of
    * [[assertNoDecimal]]): the driver hashes dtypes, so ANY dtype drift —
    * int32 vs int64, date vs timestamp, a renamed column — goes hash-red
    * even when values agree. Every dumped schema must equal the committed
    * snapshot in `expected-schemas.txt`; a query absent from the snapshot
    * passes (the decimal guard still applies) so local iteration on a new
    * query is not blocked before the snapshot is regenerated. */
  def assertExpectedSchema(name: String,
      schema: org.apache.spark.sql.types.StructType,
      expected: Map[String, String]): Unit =
    expected.get(name).foreach { want =>
      val got = schemaSignature(schema)
      require(got == want,
        s"$name output schema drifted from the committed snapshot —\n" +
          s"  expected: $want\n  got:      $got\n" +
          "dtype drift hashes red at the driver even with equal values " +
          "(r20 q130 class); if the change is intentional, regenerate " +
          s"$SchemaSnapshotPath with SPARK_GRAFT_SCHEMA_SNAPSHOT=1")
    }

  val SchemaSnapshotPath = "src/main/resources/graft/expected-schemas.txt"

  /** The committed name→signature snapshot, loaded from the classpath
    * (empty when absent — e.g. before first generation). */
  def loadExpectedSchemas(): Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/expected-schemas.txt")
    if (in == null) return Map.empty
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.contains('\t')).map { l =>
        val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build() // the session Bench times under
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (driver always runs the full set): a
    // comma-separated allowlist of query names. The oracle dump below is
    // filtered to the SAME set — otherwise compare.py would "validate"
    // the skipped queries against whatever stale parquet a previous run
    // left in outDir and report them green without running them.
    // a BLANK value means unset (an empty allowlist would select zero
    // queries, dump an empty oracle file, and let compare.py report a
    // fully-green 0/0 round — the exact silent-green hazard the filtered
    // dump exists to prevent)
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.trim.nonEmpty)
      .map(_.split(",").toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // snapshot mode (dev-only): regenerate the committed schema snapshot
    // instead of asserting against it
    val snapshotMode =
      sys.env.get("SPARK_GRAFT_SCHEMA_SNAPSHOT").exists(_.trim.nonEmpty)
    val expectedSchemas = if (snapshotMode) Map.empty[String, String]
      else loadExpectedSchemas()
    val observedSchemas = collection.mutable.TreeMap[String, String]()
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // The reference's timestamps are NTZ (Snowflake TIMESTAMP_NTZ,
        // SURVEY §1.2); the session is pinned to UTC, so casting the
        // instant-typed outputs to NTZ preserves the wall-clock value and
        // makes the parquet dump match the DuckDB oracle's naive type.
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        import org.apache.spark.sql.functions.col
        val ntz = df.select(df.schema.fields.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
          else col(f.name)
        }.toSeq: _*)
        assertNoDecimal(name, ntz.schema)
        assertExpectedSchema(name, ntz.schema, expectedSchemas)
        observedSchemas(name) = schemaSignature(ntz.schema)
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        spark.sqlContext.clearCache() // don't accumulate operator caches across queries
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (snapshotMode && only.isEmpty) {
      val p = Paths.get(SchemaSnapshotPath)
      Files.createDirectories(p.getParent)
      Files.writeString(p, observedSchemas
        .map { case (n, s) => s"$n\t$s" }.mkString("", "\n", "\n"))
      System.err.println(s"[verify] schema snapshot written: $p " +
        s"(${observedSchemas.size} queries)")
    }
    spark.stop()
  }
}

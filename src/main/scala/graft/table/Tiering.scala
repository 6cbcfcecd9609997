package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hot/cold tiering (reference T9,
  * `aws-community-builders-presentation.md:717-731,934-953`): a 30-day
  * boundary splits the event stream into a hot tier (fast storage /
  * Snowflake-native in the reference) and a cold tier (cheap object
  * storage), with a UNION ALL view giving unified query access.
  *
  * The migration job is a filtered rewrite through the snapshot-table
  * committer: cold gains an appended snapshot, hot is atomically
  * overwritten with only the recent rows — readers of either tier see a
  * consistent snapshot throughout, and the pre-migration hot snapshot
  * remains time-travelable until expired.
  */
object Tiering {

  /** Move rows with ts < boundary from hot to cold; returns (hot, cold).
    * Rows with NULL ts stay hot (they'd otherwise vanish from both tiers —
    * neither `ts < b` nor `ts >= b` holds for NULL). Both rewrites stream
    * from the hot snapshot's files into newly staged files (the old files
    * stay on disk for time travel, so there is no self-overwrite to break
    * with a checkpoint), and the hot swap is conflict-checked against the
    * snapshot the split was computed from. */
  def migrate(spark: SparkSession, hotLoc: String, coldLoc: String,
      boundary: String): (SnapshotTable, SnapshotTable) = {
    val hot = SnapshotTable.load(spark, hotLoc)
    val baseV = hot.latestVersion
    val b = lit(boundary).cast("timestamp")
    val current = hot.readVersion(baseV)
    val toCold = current.filter(col("ts") < b)
    val keepHot = current.filter(col("ts") >= b || col("ts").isNull)
    val cold = SnapshotTable.find(spark, coldLoc)
      .fold(SnapshotTable.create(spark, coldLoc, toCold)) { c => c.append(toCold); c }
    hot.replace(baseV, keepHot, "overwrite")
    (hot, cold)
  }

  /** Unified hot ∪ cold view (U1), registered under `viewName`. */
  def unifiedView(spark: SparkSession, hotLoc: String, coldLoc: String,
      viewName: String): DataFrame = {
    val u = SnapshotTable.load(spark, hotLoc).read()
      .withColumn("tier", lit("hot"))
      .unionByName(SnapshotTable.load(spark, coldLoc).read()
        .withColumn("tier", lit("cold")))
    u.createOrReplaceTempView(viewName)
    u
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Pins the one engine configuration ([[GraftSession]]): the settings are
  * exactly the ones `Bench` timed under before every main shared them, and
  * q69's governed session carries them too. Uses the shared test context
  * only — the governed session is a new session on it, not a new context.
  */
class GraftSessionSpec extends SparkFunSuite {

  // every setting Bench.main put on its builder, value for value
  private def benchSettings(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.warehouse.dir" -> Tables.scratch("warehouse"),
    "spark.ui.enabled" -> "false",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "512",
    "parquet.block.size" -> GraftSession.parquetBlockBytes)

  test("engine settings are Bench's, with shuffle partitions = cpus") {
    assert(GraftSession.parquetBlockBytes ==
      sys.env.getOrElse("SPARK_GRAFT_PARQUET_BLOCK_BYTES", "8388608"))
    Seq(1, 3, 32).foreach { cpus =>
      val s = GraftSession.settings(cpus)
      assert(s.map(_._1).distinct.size == s.size, "a key is set twice")
      assert(s.toMap == benchSettings(cpus))
    }
    assert(GraftSession.hadoopSettings ==
      Seq("mapreduce.fileoutputcommitter.algorithm.version" -> "2"))
    assert(GraftSession.cpus >= 1)
  }

  test("q69's governed session runs under the engine settings") {
    val g = graft.queries.Ops.governedFor(spark)
    assert(g ne spark)
    assert(g.sparkContext eq spark.sparkContext)
    assert(SparkSession.active eq spark, "caller not restored as active")
    assert(g.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(g.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "512")
    assert(g.conf.get("parquet.block.size") == GraftSession.parquetBlockBytes)
    assert(g.conf.get("spark.sql.shuffle.partitions") ==
      spark.conf.get("spark.sql.shuffle.partitions"))
  }
}

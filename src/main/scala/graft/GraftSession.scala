package graft

import org.apache.spark.sql.SparkSession

/** The one engine session. Every main (`Bench`, `Verify`, `ScaleProbe`,
  * `PlanDump`) and q69's governed session start from [[builder]], so
  * correctness is verified, probed and timed under the same settings: an
  * optimization can never pass under one configuration and be timed under
  * another.
  */
object GraftSession {

  /** Local task slots and shuffle partitions: `SPARK_GRAFT_CPUS`, else
    * every core of this machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Parquet row-group size: row groups should track the bytes
    * a writer will actually put in the file. This workload's
    * dynamic-partition commits open hundreds of writers for KB-scale
    * files, and the 128 MB default makes each open reserve buffer capacity
    * ~4 orders of magnitude over the data — measured ~1.0 s of the
    * 240-file write floor (q55b warm 4.2 -> 3.1 s with 8 MB; 1 MB measures
    * the same, so 8 MB is kept as the less aggressive bound). A deployment
    * writing real 128 MB - 1 GB files sets `SPARK_GRAFT_PARQUET_BLOCK_BYTES`
    * back up to the default. */
  val parquetBlockBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_PARQUET_BLOCK_BYTES", "8388608")

  /** Every SQL/session setting of the engine, in builder order. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.warehouse.dir" -> Tables.scratch("warehouse"),
    "spark.ui.enabled" -> "false",
    // let AQE re-size exchanges around persisted frames:
    // the default pins a cached plan's 32-partition layout onto every
    // consumer, so each dynamic-table refresh ran 32-task stages over
    // kilobyte deltas; with this on, AQE coalesces them by byte size —
    // the same scale-adaptive sizing every uncached exchange already gets
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // snapshot-table reads pass explicit leaf-file lists whose sizes the
    // manifest already knows; above this threshold Spark still launches
    // a distributed listing JOB per read (~0.3 s here for a 240-file
    // table — pure overhead on a local FS). 512 keeps small tables on
    // the driver's microsecond stat path; genuinely large tables (>512
    // files — any table at cluster scale) keep the parallel listing.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "512",
    "parquet.block.size" -> parquetBlockBytes)

  /** Hadoop settings [[build]] puts on the context. Committer v2
    * (task-side rename): the v1 default serializes a driver-side move of
    * every output file at job commit — measurable per write here and a
    * known object-store cliff at scale. Safe for this engine everywhere:
    * reads are never pointed at half-committed directories (snapshot
    * tables publish via the atomic pointer swap; scratch dirs are
    * consumed only after the write returns). */
  val hadoopSettings: Seq[(String, String)] =
    Seq("mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  /** A `local[cpus]` builder carrying every engine setting. */
  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    settings(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The engine session: [[builder]], WARN logging and [[hadoopSettings]]. */
  def build(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    hadoopSettings.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
    spark
  }
}

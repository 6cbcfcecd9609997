package graft.table

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-resident frames (rows already on the driver: a bare, non-empty
  * `LocalRelation`) are staged as ONE parquet file written on the driver,
  * with no Spark job; every other frame keeps the distributed write. */
class LocalStageSpec extends SparkFunSuite {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("user_id", LongType),
    StructField("region", StringType),
    StructField("ts", TimestampType),
    StructField("amount", LongType)))

  private val regions = Seq("us-west-2", "us-east-1", "eu-west-1")

  private def rows(from: Int, n: Int): Seq[Row] = (from until from + n).map { i =>
    Row(i.toLong, (i % 7).toLong, regions(i % regions.size),
      new java.sql.Timestamp(1704067200000L + i * 60000L), (i * 13 % 1000).toLong)
  }

  private def frame(from: Int, n: Int): DataFrame =
    spark.createDataFrame(rows(from, n).asJava, schema)

  /** Run `body`, returning its result and the Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The files the latest commit added. */
  private def added(t: SnapshotTable): Seq[SnapshotTable.DataFile] = {
    val before = t.snapshot(t.latestVersion - 1).files.map(_.path).toSet
    t.snapshot(t.latestVersion).files.filterNot(f => before(f.path))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy("id").collect().toSeq

  test("a driver-resident append starts no job and adds one file whose manifest matches its footer") {
    val t = SnapshotTable.create(spark, scratch("local-stage-basic"), frame(0, 10))
    val (_, jobs) = jobsDuring(t.append(frame(10, 46)))
    assert(jobs == 0)
    val files = added(t)
    assert(files.size == 1)
    val f = files.head
    val statCols = schema.fields.toSeq
      .flatMap(c => SnapshotTable.statType(c.dataType).map(c.name -> _))
    val (footerRows, bytes, stats) = SnapshotTable.footerStats(f.path, statCols)
    assert(f.rows == 46 && footerRows == 46)
    assert(f.bytes == bytes && bytes == Files.size(Paths.get(f.path)))
    assert(f.stats == stats)
    assert(stats.keySet == Set("id", "user_id", "region", "ts", "amount"))
    assert(sorted(t.read()) == rows(0, 56))
    // same footer schema as the distributed write of the same frame
    val viaJob = scratch("local-stage-basic-job")
    frame(10, 46).coalesce(1).write.parquet(viaJob)
    val jobFile = Files.list(Paths.get(viaJob)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get.toString
    assert(SnapshotTable.footerSchema(spark, f.path) ==
      SnapshotTable.footerSchema(spark, jobFile))
  }

  test("frames that are not a bare local relation keep the distributed write and its file count") {
    def appendJobsAndFiles(t: SnapshotTable, df: DataFrame): (Int, Int) = {
      val (_, jobs) = jobsDuring(t.append(df))
      (jobs, added(t).size)
    }
    val t = SnapshotTable.create(spark, scratch("local-stage-repart"), frame(0, 10))
    val (jobs, files) = appendJobsAndFiles(t, frame(10, 46).repartition(3))
    assert(jobs > 0 && files == 3)

    val p = SnapshotTable.create(spark, scratch("local-stage-part"), frame(0, 10),
      partitionCols = Seq("region"))
    val (pJobs, pFiles) = appendJobsAndFiles(p, frame(10, 46))
    assert(pJobs > 0 && pFiles == regions.size)

    val s = SnapshotTable.create(spark, scratch("local-stage-sorted"), frame(0, 10))
    s.setProperties(Map(SnapshotTable.SortOrder -> "amount"))
    val sortedFrame = frame(10, 46)
    val (sJobs, sFiles) = appendJobsAndFiles(s, sortedFrame)
    assert(sJobs > 0 && sFiles == sortedFrame.rdd.getNumPartitions && sFiles > 1)

    val e = SnapshotTable.create(spark, scratch("local-stage-empty"), frame(0, 10))
    val (eJobs, _) = appendJobsAndFiles(e, frame(10, 0))
    assert(eJobs > 0)
    assert(e.read().count() == 10)

    Seq(t -> 56, p -> 56, s -> 56).foreach { case (tbl, n) =>
      assert(sorted(tbl.read()) == rows(0, n))
    }
  }

  test("a schema-widening driver-resident append reads old rows as null") {
    val t = SnapshotTable.create(spark, scratch("local-stage-widen"), frame(0, 10))
    val wider = frame(10, 5).withColumn("note", lit("x"))
    val (_, jobs) = jobsDuring(t.append(wider))
    assert(jobs == 0 && added(t).size == 1)
    val got = t.read().orderBy("id").select("id", "note").collect().toSeq
    assert(got.take(10).forall(_.isNullAt(1)))
    assert(got.drop(10).map(_.getString(1)) == Seq.fill(5)("x"))
  }

  test("an ndv-sketch table still gets sketches for a driver-resident append") {
    val t = SnapshotTable.create(spark, scratch("local-stage-ndv"), frame(0, 10))
    t.setProperties(Map(SnapshotTable.NdvSketchColumns -> "id,region"))
    t.append(frame(10, 46))
    val f = added(t)
    assert(f.size == 1)
    assert(f.head.ndv.keySet == Set("id", "region"))
  }

  test("equality-delete reads take the key schema from the footer, starting no inference job") {
    val t = SnapshotTable.create(spark, scratch("local-stage-eq"), frame(0, 30))
    import spark.implicits._
    t.equalityDelete(Seq(3L, 4L).toDF("id"))
    val d = t.snapshot(t.latestVersion).eqDeleteFiles.head
    assert(spark.read.schema(SnapshotTable.footerSchema(spark, d.path))
      .parquet(d.path).schema == spark.read.parquet(d.path).schema)
    val (df, jobs) = jobsDuring(t.read())
    assert(jobs == 0)
    assert(df.count() == 28)
  }

  test("a corrupt staged file fails the commit with the same exception on the one-file and pooled footer paths") {
    val t = SnapshotTable.create(spark, scratch("local-stage-corrupt"), frame(0, 10))
    val dir = Files.createDirectories(Paths.get(scratch("local-stage-corrupt-staged")))
    def corrupt(name: String) =
      Files.write(dir.resolve(name), "not a parquet file".getBytes("UTF-8"))
    val good = Paths.get(t.snapshot(t.latestVersion).files.head.path)
    val goodCopy = Files.copy(good, dir.resolve("good.parquet"))
    val one = intercept[Exception](
      t.appendStagedFiles(Seq(corrupt("bad-1.parquet")), schema, "stage-one"))
    val pooled = intercept[Exception](
      t.appendStagedFiles(Seq(goodCopy, corrupt("bad-2.parquet")), schema, "stage-pooled"))
    assert(!pooled.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(one.getClass == pooled.getClass)
    assert(t.latestVersion == 0)
  }
}

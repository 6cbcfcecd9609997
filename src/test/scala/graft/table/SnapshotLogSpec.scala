package graft.table

import graft.SparkFunSuite
import scala.jdk.CollectionConverters._

/** The metadata layout behind [[SnapshotTable]]: version-file naming and
  * the listings and document parses one operation costs. */
class SnapshotLogSpec extends SparkFunSuite {
  import spark.implicits._

  test("one append lists the log at most twice, however long the history") {
    for (n <- Seq(3, 30)) {
      val loc = scratch(s"log-listings-$n")
      val t = SnapshotTable.create(spark, loc, Seq(0L).toDF("id"))
      (1 until n).foreach(i => t.append(Seq(i.toLong).toDF("id")))
      assert(t.versions.size == n)
      val before = SnapshotLog.listings.sum()
      t.append(Seq(-1L).toDF("id"))
      val listed = SnapshotLog.listings.sum() - before
      assert(listed <= 2, s"append on $n versions listed the log $listed times")
    }
  }

  test("one streaming epoch commit costs the same metadata IO on 3 and on 60 versions") {
    import java.nio.file.{Files, Paths}
    val schema = Seq(0L).toDF("id").schema
    val costs = Seq(3, 60).map { n =>
      val loc = scratch(s"log-epoch-$n")
      val t = SnapshotTable.create(spark, loc, Seq(0L).toDF("id"))
      (1 until n).foreach(i => t.append(Seq(i.toLong).toDF("id")))
      val dir = Paths.get(loc, "_staging", "stream-q-io-0")
      Seq(-1L).toDF("id").coalesce(1).write.parquet(dir.toString)
      val staged = scala.util.Using.resource(Files.list(dir))(_.iterator()
        .asScala.map(_.toString).filter(_.endsWith(".parquet")).toList)
      val (listed, parsed) = (SnapshotLog.listings.sum(), SnapshotLog.parses.sum())
      new GraftStreamingWrite(loc, schema, "q-io")
        .commit(0, Array(GraftStreamingWrite.StagedFiles(staged)))
      val cost = (SnapshotLog.listings.sum() - listed,
        SnapshotLog.parses.sum() - parsed)
      assert(t.read().count() == n + 1)
      cost
    }
    // (listings, documents parsed): the replay check reads the head only
    assert(costs.distinct.size == 1 && costs.head._2 == 1,
      s"epoch commit (listings, parses) on 3 and 60 versions: $costs")
  }

  test("only the canonical rendering of a version parses") {
    import java.nio.file.{Files, Paths}
    val loc = scratch("log-names")
    val t = SnapshotTable.create(spark, loc, Seq(1L).toDF("id"))
    val snaps = Paths.get(loc, "_snapshots")
    // a padded six-digit spelling of v1 and a four-digit one are not
    // version files; only v00000.json is
    Seq("v000001.json", "v0002.json", "vx0003.json").foreach(n =>
      Files.writeString(snaps.resolve(n), "{}"))
    assert(t.versions == Seq(0))
    assert(SnapshotTable.exists(loc))
    assert(!SnapshotTable.exists(scratch("log-absent")))
  }
}

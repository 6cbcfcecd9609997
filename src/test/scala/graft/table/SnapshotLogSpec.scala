package graft.table

import graft.SparkFunSuite

/** The metadata layout behind [[SnapshotTable]]: version-file naming and
  * the directory listings one operation costs. */
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

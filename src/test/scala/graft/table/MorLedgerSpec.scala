package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Merge-on-read operations over a LIVE delete ledger: position deletes,
  * merges and the changelog on a table whose equality deletes are still
  * unfolded, checked against an in-memory model. Every check runs on a
  * plain location and on one whose path contains a space, where the
  * reader's `_metadata.file_path` (URI-encoded) and the manifest path
  * (plain) are spelled differently. */
class MorLedgerSpec extends SparkFunSuite {
  import spark.implicits._

  private case class Row3(id: Long, k: Int, v: String)

  private def frame(rows: Seq[Row3]) =
    rows.map(r => (r.id, r.k, r.v)).toDF("id", "k", "v")

  private def readRows(t: SnapshotTable): Seq[Row3] =
    t.read().as[(Long, Int, String)].collect().toSeq
      .map { case (id, k, v) => Row3(id, k, v) }.sortBy(_.id)

  for ((name, label) <- Seq("mor-ledger" -> "plain location",
      "mor ledger space" -> "location with a space")) {
    test(s"MOR over a live equality-delete ledger matches the model ($label)") {
      val t0 = (1L to 10L).map(i => Row3(i, (i % 5).toInt, s"a$i"))
      val t = SnapshotTable.create(spark, scratch(name), frame(t0))       // v0
      var model = t0
      def check(): Unit = assert(readRows(t) == model.sortBy(_.id))

      val tail = Seq(Row3(11, 1, "a11"), Row3(12, 2, "a12"))
      t.append(frame(tail)); model ++= tail                              // v1
      check()
      t.equalityDelete(Seq(1).toDF("k"))                                 // v2
      model = model.filterNot(_.k == 1); check()
      val ups = Seq(Row3(13, 1, "u13"), Row3(14, 2, "u14"))
      t.upsertMor(frame(ups), Seq("k"))                                  // v3
      model = model.filterNot(r => r.k == 1 || r.k == 2) ++ ups; check()

      // ids 1 and 2 are already equality-deleted: only 3, 4 and 13 die
      assert(t.positionDelete(col("id") <= 4 || col("id") === 13) == 3)  // v4
      model = model.filterNot(r => r.id <= 4 || r.id == 13); check()

      // id 6 is already equality-deleted, so only id 8 gets an entry
      val merged = Seq(Row3(6, 1, "m6"), Row3(8, 3, "m8"))
      t.mergeMor(frame(merged), Seq("id"))                               // v5
      val fresh = t.snapshot(5).deleteFiles
        .filterNot(d => t.snapshot(4).deleteFiles.contains(d))
      assert(fresh.map(_.rows).sum == 1)
      model = model.filterNot(r => r.id == 6 || r.id == 8) ++ merged; check()

      val got = t.changes(0)
        .select($"id", $"v", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Int)].collect().toSeq.sorted
      val want = Seq(
        (11L, "a11", "insert", 1), (12L, "a12", "insert", 1),
        (1L, "a1", "delete", 2), (6L, "a6", "delete", 2),
        (11L, "a11", "delete", 2),
        (2L, "a2", "delete", 3), (7L, "a7", "delete", 3),
        (12L, "a12", "delete", 3),
        (13L, "u13", "insert", 3), (14L, "u14", "insert", 3),
        (3L, "a3", "delete", 4), (4L, "a4", "delete", 4),
        (13L, "u13", "delete", 4),
        (8L, "a8", "delete", 5),
        (6L, "m6", "insert", 5), (8L, "m8", "insert", 5)).sorted
      assert(got == want)

      val keys = t.changedKeyRows(0, -1, Seq("id")).as[Long].collect().toSet
      assert(Set(3L, 4L, 13L, 8L).subsetOf(keys),
        s"position-deleted keys missing from $keys")
      assert(want.map(_._1).toSet.subsetOf(keys))
    }
  }

  test("changedKeyRows covers every key changes() reports over a mixed range") {
    val t = SnapshotTable.create(spark, scratch("mor-ledger-keys"),
      spark.range(40).selectExpr("id", "CAST(id % 4 AS INT) AS k",
        "CAST(id AS STRING) AS v"))                                      // v0
    t.append(spark.range(40, 60).selectExpr("id", "CAST(id % 4 AS INT) AS k",
      "CAST(id AS STRING) AS v"))                                        // v1
    t.positionDelete(col("id") < 5 || col("id") === 45)                  // v2
    t.equalityDelete(Seq(2).toDF("k"))                                   // v3
    t.upsertMor(frame(Seq(Row3(100, 3, "u"), Row3(101, 2, "u"))),
      Seq("k"))                                                          // v4
    t.mergeMor(frame(Seq(Row3(7, 1, "m"), Row3(10, 2, "m"),
      Row3(200, 0, "m"))), Seq("id"))                                    // v5
    t.rollbackTo(3)                                                      // v6
    t.equalityDelete(Seq(1).toDF("k"))                                   // v7
    t.compact()                                                          // v8
    t.setProperties(Map("owner" -> "spec"))                              // v9
    t.positionDelete(col("id") === 48)                                   // v10
    assert(t.latestVersion == 10)
    for (since <- Seq(0, 2, 4, 6)) {
      val changed = t.changes(since).select("id").distinct()
        .as[Long].collect().toSet
      val keys = t.changedKeyRows(since, -1, Seq("id")).as[Long].collect().toSet
      assert(changed.nonEmpty && changed.subsetOf(keys),
        s"since v$since: ${changed -- keys} changed but not returned")
    }
  }
}

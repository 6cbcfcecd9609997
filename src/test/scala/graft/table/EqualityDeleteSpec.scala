package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Equality deletes (Iceberg v2's second merge-on-read flavor) and the
  * upsert-through-equality-deletes path: sequence scoping, null-safe keys,
  * compaction folding, CDC, rollback, and the refusal guards. */
class EqualityDeleteSpec extends SparkFunSuite {

  private def events() = graft.Tables.load(spark, sf, "events")
    .select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  test("equalityDelete removes matching rows without reading or rewriting data") {
    val loc = scratch("eq-basic")
    val e = events()
    val t = SnapshotTable.create(spark, loc, e)
    val filesBefore = t.snapshot(t.latestVersion).files.map(_.path)
    import spark.implicits._
    val n = t.equalityDelete(Seq(3L, 7L).toDF("user_id"))
    assert(n == 2) // distinct key tuples, not matched rows
    // no data file was touched
    assert(t.snapshot(t.latestVersion).files.map(_.path) == filesBefore)
    assert(t.hasDeletes)
    val expect = e.filter(!col("user_id").isin(3L, 7L)).count()
    assert(t.read().count() == expect)
    // time travel to the pre-delete version still sees every row
    assert(t.readVersion(t.latestVersion - 1).count() == e.count())
  }

  test("upsertMor: one commit deletes old rows by key while its own rows survive") {
    val loc = scratch("eq-upsert")
    val e = events()
    val t = SnapshotTable.create(spark, loc, e)
    // update every 10th event's value, insert a fresh tail
    val updates = e.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") * 3)
      .unionByName(e.limit(50).withColumn("event_id", col("event_id") + 100000))
    t.upsertMor(updates, Seq("event_id"))
    val expect = e.filter(col("event_id") % 10 =!= 0)
      .unionByName(updates)
    assert(t.read().count() == expect.count())
    val got = t.read().agg(sum("value")).head().getDouble(0)
    val want = expect.agg(sum("value")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6 * math.abs(want))
    // a SECOND upsert on overlapping keys wins over the first (sequence
    // ordering across two live equality-delete files)
    val again = e.filter(col("event_id") % 20 === 0)
      .withColumn("value", col("value") * 5)
    t.upsertMor(again, Seq("event_id"))
    // `again`'s keys are the ORIGINAL %20 ids — the +100000 inserted rows
    // are never matched even when their shifted id happens to be %20
    val expect2 = e.filter(col("event_id") % 10 =!= 0)
      .unionByName(updates.filter(
        col("event_id") % 20 =!= 0 || col("event_id") >= 100000))
      .unionByName(again)
    assert(t.read().count() == expect2.count())
    val got2 = t.read().agg(sum("value")).head().getDouble(0)
    val want2 = expect2.agg(sum("value")).head().getDouble(0)
    assert(math.abs(got2 - want2) < 1e-6 * math.abs(want2))
  }

  test("null-safe keys: an equality delete with a NULL key kills NULL-keyed rows") {
    val loc = scratch("eq-null")
    import spark.implicits._
    val df = Seq((1L, Option("a")), (2L, Option("b")), (3L, None),
      (4L, None)).toDF("id", "k")
    val t = SnapshotTable.create(spark, loc, df)
    t.equalityDelete(Seq(Option("a"), Option.empty[String]).toDF("k"))
    val left = t.read().select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L))
  }

  test("compaction folds the equality ledger and restores the plain scan") {
    val loc = scratch("eq-compact")
    val e = events()
    val t = SnapshotTable.create(spark, loc, e)
    import spark.implicits._
    t.equalityDelete(Seq(1L, 2L).toDF("user_id"))
    val expect = e.filter(!col("user_id").isin(1L, 2L)).count()
    assert(t.hasDeletes)
    t.compact(targetBytes = 64L * 1024 * 1024)
    assert(!t.hasDeletes)
    assert(t.snapshot(t.latestVersion).eqDeleteFiles.isEmpty)
    assert(t.read().count() == expect)
    // expiration collects the folded eq-delete parquet with its versions
    val eqPath = t.snapshot(t.latestVersion - 1).eqDeleteFiles.head.path
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(eqPath)))
    t.expireSnapshots(keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(eqPath)))
  }

  test("CDC: changes() reports an upsert as key-scoped deletes plus inserts") {
    val loc = scratch("eq-cdc")
    val e = events()
    val t = SnapshotTable.create(spark, loc, e)
    val v0 = t.latestVersion
    val updates = e.filter(col("event_id") < 100)
      .withColumn("value", col("value") * 2)
    t.upsertMor(updates, Seq("event_id"))
    val delta = t.changes(v0)
    val dels = delta.filter(col("_change_type") === "delete")
    val ins = delta.filter(col("_change_type") === "insert")
    assert(dels.count() == 100)
    assert(ins.count() == 100)
    // the deleted rows carry the OLD values, the inserts the new ones
    val oldSum = e.filter(col("event_id") < 100)
      .agg(sum("value")).head().getDouble(0)
    assert(math.abs(dels.agg(sum("value")).head().getDouble(0) - oldSum)
      < 1e-6 * math.abs(oldSum))
    assert(math.abs(ins.agg(sum("value")).head().getDouble(0) - 2 * oldSum)
      < 1e-6 * math.abs(oldSum))
    // rollback resurrects: the rolled-back range reports re-inserts
    val vUp = t.latestVersion
    t.rollbackTo(v0)
    assert(t.read().count() == e.count())
    val back = t.changes(vUp)
    assert(back.filter(col("_change_type") === "insert").count() == 100)
    assert(back.filter(col("_change_type") === "delete").count() == 100)
  }

  test("SQL reads take the MOR scan; COW row-level ops and clone refuse a live ledger") {
    val wh = graft.Tables.scratch("test/eq-wh")
    graft.Tables.deleteRecursively(wh)
    spark.conf.set("spark.sql.catalog.eqcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eqcat.warehouse", wh)
    spark.sql(
      "CREATE TABLE eqcat.db.ev (event_id BIGINT, user_id BIGINT, value DOUBLE)")
    val e = events().select("event_id", "user_id", "value")
    e.writeTo("eqcat.db.ev").append()
    val t = SnapshotTable.load(spark, s"$wh/db/ev")
    import spark.implicits._
    t.equalityDelete(Seq(5L).toDF("user_id"))
    val expect = e.filter(col("user_id") =!= 5L).count()
    assert(spark.sql("SELECT count(*) FROM eqcat.db.ev").head().getLong(0) == expect)
    // metadata surface
    val led = spark.sql("SELECT * FROM eqcat.db.ev.eq_deletes").collect()
    assert(led.length == 1 && led.head.getAs[String]("key_columns") == "user_id")
    // COW UPDATE refuses with the compact remedy
    val ex = intercept[Exception](
      spark.sql("UPDATE eqcat.db.ev SET value = 0 WHERE user_id = 1"))
    assert(ex.getMessage.contains("compact"))
    val ex2 = intercept[Exception](t.cloneTo(graft.Tables.scratch("test/eq-clone")))
    assert(ex2.getMessage.contains("compact"))
    // rename/drop of a live key column refuses
    val ex3 = intercept[Exception](t.renameColumn("user_id", "uid"))
    assert(ex3.getMessage.contains("equality-delete"))
    val ex4 = intercept[Exception](t.dropColumn("user_id"))
    assert(ex4.getMessage.contains("equality-delete"))
  }

  test("incremental reads refuse to cross equality-delete commits, pointing at changes()") {
    val loc = scratch("eq-incr")
    val e = events()
    val t = SnapshotTable.create(spark, loc, e)
    val v0 = t.latestVersion
    import spark.implicits._
    t.equalityDelete(Seq(3L).toDF("user_id"))
    t.append(e.limit(10))
    // the appends-only delta would surface rows the delete killed —
    // refused loudly with the row-level CDC remedy
    val ex = intercept[IllegalArgumentException](t.appendsSince(v0))
    assert(ex.getMessage.contains("changes"))
    // the changelog itself crosses the commit exactly
    val delta = t.changes(v0)
    val dels = delta.filter(col("_change_type") === "delete").count()
    assert(dels == e.filter(col("user_id") === 3L).count())
  }

  test("streaming upsert sink: exactly-once equality-delete upserts per epoch") {
    val srcDir = scratch("eq-stream-src")
    val e = events().select("event_id", "user_id", "value")
    // 30 small files → multiple micro-batches under maxFilesPerTrigger=10;
    // overlapping event_ids across files exercise cross-epoch upserts
    e.unionByName(e.filter(col("event_id") % 3 === 0)
        .withColumn("value", col("value") + 1000))
      .repartition(30).write.parquet(srcDir)
    val tableLoc = scratch("eq-stream-table")
    val ckptTag = s"eqspec_${System.nanoTime}"
    val t = graft.streaming.Streams.upsertStream(spark, srcDir, tableLoc,
      Seq("event_id"), ckptTag)
    // after the full drain every event_id appears exactly once
    assert(t.read().count() == e.count())
    val dup = t.read().groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dup == 0)
    // replay detection is scoped to THIS logical stream — a batch id alone
    // is not an identity (a second stream's batch 0 must not be mistaken
    // for this one's): the marker names this stream's last committed batch,
    // and another stream has none
    val v = t.latestVersion
    val lastBatch = t.versions.map(t.snapshot(_).operation)
      .collect { case op if op.startsWith(s"upsert-$ckptTag-batch-") =>
        op.stripPrefix(s"upsert-$ckptTag-batch-").toLong }.max
    assert(t.committedBatch(s"upsert_$ckptTag") == lastBatch)
    assert(t.committedBatch(s"upsert_other_$ckptTag") == -1L)
    assert(t.latestVersion == v)
  }

  test("streaming upsert sink: a second stream with a fresh checkpoint is not skipped as replay") {
    val srcA = scratch("eq-stream2-srcA")
    val srcB = scratch("eq-stream2-srcB")
    val e = events().select("event_id", "user_id", "value")
    e.filter(col("event_id") < 200).repartition(3).write.parquet(srcA)
    // second stream updates an overlapping key range with new values
    e.filter(col("event_id") < 100)
      .withColumn("value", col("value") + 5000)
      .repartition(3).write.parquet(srcB)
    val tableLoc = scratch("eq-stream2-table")
    val n = System.nanoTime
    graft.streaming.Streams.upsertStream(spark, srcA, tableLoc,
      Seq("event_id"), s"eqspec2a_$n")
    // stream B has its OWN checkpoint — its batch ids restart at 0; with
    // an unscoped `upsert-batch-$id` tag its early batches would be
    // silently dropped as replays of stream A's commits
    val t = graft.streaming.Streams.upsertStream(spark, srcB, tableLoc,
      Seq("event_id"), s"eqspec2b_$n")
    val updated = t.read().filter(col("event_id") < 100 && col("value") >= 5000)
    assert(updated.count() == e.filter(col("event_id") < 100).count())
    assert(t.read().count() == e.filter(col("event_id") < 200).count())
  }

  test("live eq-delete ledger over an empty or pruned-to-empty file list returns 0 rows") {
    import spark.implicits._
    // empty table + eq delete: the stratified read sees ZERO strata
    val loc = scratch("eq-empty-read")
    val t = SnapshotTable.createEmpty(spark, loc, events().schema)
    t.equalityDelete(Seq(3L).toDF("user_id"))
    assert(t.read().count() == 0)
    // stats-pruned-to-empty through SQL: a point predicate outside every
    // file's min/max empties morScanBuilder's staticFiles while the
    // ledger is live — the normal state between upserts and compaction
    val wh = graft.Tables.scratch("test/eq-prune-wh")
    graft.Tables.deleteRecursively(wh)
    spark.conf.set("spark.sql.catalog.eqp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eqp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS eqp.db")
    val t2 = SnapshotTable.create(spark, s"$wh/db/ev", events())
    t2.equalityDelete(Seq(3L).toDF("user_id"))
    assert(spark.sql(
      "SELECT * FROM eqp.db.ev WHERE user_id = 99999999").count() == 0)
  }

  test("uncastable equality-delete key values raise instead of silently deleting NULL-keyed rows") {
    import spark.implicits._
    val loc = scratch("eq-badcast")
    // a table with a NULL-keyed row that a silent NULL cast would destroy
    val e = events().withColumn("user_id",
      when(col("event_id") === 0, lit(null)).otherwise(col("user_id")))
    val t = SnapshotTable.create(spark, loc, e)
    val before = t.read().count()
    val ex = intercept[Exception](
      t.equalityDelete(Seq("not-a-number").toDF("user_id")))
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(ex).exists(_.contains("not castable")))
    // nothing committed, nothing deleted — the NULL-keyed row survives
    assert(t.read().count() == before)
    assert(t.read().filter(col("user_id").isNull).count() == 1)
    // a CASTABLE string key still works (the convenience the cast exists for)
    val n = t.equalityDelete(Seq("3").toDF("user_id"))
    assert(n == 1)
  }

  test("foldEqDeletes rewrites only stats-affected files, carries the rest, clears the ledger") {
    import spark.implicits._
    val loc = scratch("eq-fold")
    val e = events()
    val lo = e.filter(col("event_id") < 500)
    val hi = e.filter(col("event_id") >= 500)
      .withColumn("event_id", col("event_id") + 100000)
    val t = SnapshotTable.create(spark, loc, lo.coalesce(1))
    t.append(hi.coalesce(1))
    val hiPaths = t.snapshot(t.latestVersion).files.map(_.path)
      .filterNot(t.snapshot(0).files.map(_.path).contains)
    t.equalityDelete(Seq(10L, 20L).toDF("event_id"))
    val v = t.foldEqDeletes()
    assert(v == t.latestVersion)
    val snap = t.snapshot(v)
    assert(snap.eqDeleteFiles.isEmpty, "fold must clear the eq ledger")
    // the hi-range file's [100000+] stats are disjoint from keys {10,20}
    // — it must be CARRIED by reference, not rewritten
    hiPaths.foreach(p => assert(snap.files.map(_.path).contains(p),
      "stats-disjoint file must be carried unchanged"))
    val expect = e.count() - 2
    assert(t.read().count() == expect)
    assert(t.read().filter(col("event_id").isin(10L, 20L)).count() == 0)
    // idempotent: an empty ledger folds to a no-op
    assert(t.foldEqDeletes() == -1)
  }

  test("foldEqDeletes with a NULL key entry disables pruning and deletes the NULL-keyed row") {
    import spark.implicits._
    val loc = scratch("eq-fold-null")
    val e = events().limit(100)
    val withNull = e.withColumn("event_id",
      when(col("user_id") === e.agg(min("user_id")).head().getLong(0),
        lit(null)).otherwise(col("event_id")))
    val nNull = withNull.filter(col("event_id").isNull).count()
    assert(nNull >= 1)
    val t = SnapshotTable.create(spark, loc, withNull)
    t.equalityDelete(Seq[java.lang.Long](5L, null).toDF("event_id"))
    t.foldEqDeletes()
    assert(t.snapshot(t.latestVersion).eqDeleteFiles.isEmpty)
    assert(t.read().filter(col("event_id").isNull).count() == 0,
      "NULL key entry must delete NULL-keyed rows through the fold")
    assert(t.read().filter(col("event_id") === 5L).count() == 0)
  }

  test("auto-fold policy bounds the eq-delete ledger across 100 upsert epochs") {
    import spark.implicits._
    val loc = scratch("eq-autofold")
    val e = events().filter(col("event_id") < 2000)
    val t = SnapshotTable.create(spark, loc, e)
    t.setProperties(Map(SnapshotTable.MaxEqDeleteFiles -> "5"))
    // 100 epochs, each upserting one key-residue slice; the sink-visible
    // ledger (and with it the read-side strata count) must stay ≤ bound
    val sizes = (1 to 100).map { i =>
      val batch = e.filter(col("event_id") % 100 === i % 100)
        .withColumn("value", col("value") + i)
      t.upsertMor(batch.coalesce(1), Seq("event_id"))
      t.snapshot(t.latestVersion).eqDeleteFiles.size
    }
    assert(sizes.max <= 5,
      s"ledger must stay within the bound, saw max ${sizes.max}")
    assert(sizes.count(_ == 0) >= 10, "the fold must actually have fired")
    // exact content: each residue r was last (and only) touched at epoch
    // i=r (i=100 for r=0), setting value = original + i
    val expect = e.withColumn("value",
      col("value") + when(col("event_id") % 100 === 0, 100.0)
        .otherwise((col("event_id") % 100).cast("double")))
    assert(t.read().count() == expect.count())
    val got = t.read().agg(sum("value")).head().getDouble(0)
    val want = expect.agg(sum("value")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6 * math.abs(want))
  }

  test("long-haul: a 100-epoch upsert STREAM under max-eq-files=8 keeps strata bounded and read latency flat") {
    // the 24/7-sink shape (r19): the REAL streaming path — checkpointed
    // micro-batches through upsertStream, one source file per epoch —
    // run as 10 stream drains of 10 epochs each over a shared
    // checkpoint. After every drain: the stream-visible eq-delete
    // ledger must sit within bound+1 (read strata ≤ 9), and the full-
    // table read latency, sampled per drain, must not grow with epoch
    // count — the property the auto-fold policy exists to provide.
    val srcDir = scratch("eq-longhaul-src")
    val tableLoc = scratch("eq-longhaul-table")
    val e = events().filter(col("event_id") < 1000)
      .select("event_id", "user_id", "value")
    val t = SnapshotTable.create(spark, tableLoc, e)
    t.setProperties(Map(SnapshotTable.MaxEqDeleteFiles -> "8"))
    val tag = s"longhaul_${System.nanoTime}"
    val latencies = new scala.collection.mutable.ArrayBuffer[Double]
    val strata = new scala.collection.mutable.ArrayBuffer[Int]
    for (chunk <- 0 until 10) {
      // 10 fresh single-file epochs: epoch k upserts the keys with
      // event_id % 100 == k, bumping value by the epoch index
      for (i <- 0 until 10) {
        val k = 10 * chunk + i
        e.filter(col("event_id") % 100 === k)
          .withColumn("value", col("value") + k)
          .coalesce(1).write.mode("append").parquet(srcDir)
      }
      val t2 = graft.streaming.Streams.upsertStream(spark, srcDir,
        tableLoc, Seq("event_id"), tag, maxFilesPerTrigger = 1)
      strata += t2.snapshot(t2.latestVersion).eqDeleteFiles.size
      val t0 = System.nanoTime()
      t2.read().count()
      latencies += (System.nanoTime() - t0) / 1e6
    }
    assert(strata.max <= 9,
      s"read strata must stay ≤ bound+1 across 100 epochs, saw $strata")
    // coarse flatness, on the MIN of each half — the same load-robust
    // statistic the bench publishes (a GC/JIT spike in one late sample
    // must not fail the suite, and an unbounded ledger inflates even
    // the minimum monotonically, so the property survives): 3x + slack
    val early = latencies.take(5).min
    val late = latencies.drop(5).min
    assert(late <= 3 * early + 200.0,
      s"read latency grew with epochs: $latencies ms")
    // exactness after 100 epochs: every key < 1000 was upserted exactly
    // once, at epoch event_id % 100
    val expect = e.withColumn("value",
      col("value") + (col("event_id") % 100).cast("double"))
    val t3 = SnapshotTable.load(spark, tableLoc)
    assert(t3.read().count() == expect.count())
    val got = t3.read().agg(sum("value")).head().getDouble(0)
    val want = expect.agg(sum("value")).head().getDouble(0)
    assert(math.abs(got - want) < 1e-6 * math.abs(want))
  }

  test("equalityDelete/upsertMor on a never-created table refuse with a clear message") {
    import spark.implicits._
    val loc = scratch("eq-nonexistent")
    val t = SnapshotTable.openUnchecked(spark, loc)
    val ex1 = intercept[IllegalArgumentException](
      t.equalityDelete(Seq(1L).toDF("user_id")))
    assert(ex1.getMessage.contains("does not exist"))
    val ex2 = intercept[IllegalArgumentException](
      t.upsertMor(Seq((1L, 2L)).toDF("event_id", "user_id"), Seq("event_id")))
    assert(ex2.getMessage.contains("does not exist"))
  }
}

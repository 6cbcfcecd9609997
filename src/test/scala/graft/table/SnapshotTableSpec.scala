package graft.table

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class SnapshotTableSpec extends SparkFunSuite {
  import spark.implicits._

  private def events = graft.Tables.load(spark, sf, "events")

  test("create + append + time travel by version") {
    val loc = scratch("snap-basic")
    val t = SnapshotTable.create(spark, loc, events.filter($"event_id" < 500))
    assert(t.latestVersion == 0)
    t.append(events.filter($"event_id" >= 500))
    assert(t.latestVersion == 1)
    assert(t.readVersion(0).count() == 500)
    assert(t.read().count() == events.count())
  }

  test("time travel by timestamp pins the right snapshot") {
    val loc = scratch("snap-ts")
    val t = SnapshotTable.create(spark, loc, events.limit(100))
    val afterV0 = System.currentTimeMillis()
    Thread.sleep(20)
    t.append(events.limit(100)) // duplicate rows, v1 has 200
    assert(t.readAsOf(afterV0).count() == 100)
    assert(t.readAsOf(System.currentTimeMillis()).count() == 200)
    intercept[IllegalArgumentException](t.readAsOf(0L))
  }

  test("concurrent appends both commit (ACID, optimistic retry)") {
    val loc = scratch("snap-concurrent")
    val t = SnapshotTable.create(spark, loc, events.limit(10))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        SnapshotTable.load(spark, loc).append(events.limit(50 * i))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(t.latestVersion == 4)
    assert(t.read().count() == 10 + 50 + 100 + 150 + 200)
  }

  test("compaction preserves the row multiset and reduces file count") {
    val loc = scratch("snap-compact")
    val t = SnapshotTable.create(spark, loc, events.repartition(32))
    val before = t.read().groupBy("event_type").count().as[(String, Long)].collect().toMap
    val filesBefore = t.snapshot(t.latestVersion).files.size
    t.compact(targetBytes = 64L * 1024 * 1024)
    val after = t.read().groupBy("event_type").count().as[(String, Long)].collect().toMap
    val filesAfter = t.snapshot(t.latestVersion).files.size
    assert(before == after)
    assert(filesAfter < filesBefore)
    // pre-compaction snapshot still readable (time travel over compaction)
    assert(t.readVersion(0).count() == events.count())
  }

  test("expireSnapshots drops old versions and orphaned files") {
    val loc = scratch("snap-expire")
    val t = SnapshotTable.create(spark, loc, events.limit(100).repartition(8))
    t.compact(targetBytes = 64L * 1024 * 1024)
    val oldFiles = t.snapshot(0).files.map(_.path)
    t.expireSnapshots(keepLast = 1)
    assert(t.versions == Seq(1))
    assert(oldFiles.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(t.read().count() == 100)
  }

  test("expiration and orphan removal leave no checksum sidecar or emptied stage directory") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val loc = scratch("snap-expire-sidecars")
    val t = SnapshotTable.create(spark, loc, events.limit(100).repartition(2))
    t.append(events.limit(10))                             // driver-written
    t.positionDelete(col("event_id") < 5)
    t.equalityDelete(Seq(7L).toDF("user_id"))
    t.compact()
    val live = t.read().collect().map(_.toString).sorted.toSeq
    t.expireSnapshots(keepLast = 1)
    // a crashed writer's staged directory: older than the grace window
    val crashed = Paths.get(loc, "data", java.util.UUID.randomUUID.toString)
    events.limit(3).coalesce(1).write.parquet(crashed.toString)
    Files.walk(crashed).iterator().asScala.toList
      .foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(0L)))
    assert(t.removeOrphans().nonEmpty)
    def under(p: Path): List[Path] =
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
    val all = under(Paths.get(loc, "data"))
    val parquet = all.filter(_.getFileName.toString.endsWith(".parquet")).toSet
    assert(parquet.map(_.toString) == t.snapshot(t.latestVersion).files.map(_.path).toSet)
    val sidecars = all.filter(_.getFileName.toString.endsWith(".parquet.crc"))
    assert(sidecars.forall(c => parquet.contains(
      c.resolveSibling(c.getFileName.toString.stripPrefix(".").stripSuffix(".crc")))),
      s"orphaned sidecars: $sidecars")
    val dirs = all.filter(Files.isDirectory(_)).filterNot(_ == Paths.get(loc, "data"))
    assert(dirs.forall(d => under(d).exists(parquet.contains)),
      s"directories with no parquet file: $dirs")
    assert(t.read().collect().map(_.toString).sorted.toSeq == live)
  }

  test("a concurrently moved base aborts an ALTER instead of clobbering it") {
    import org.apache.spark.sql.types._
    val loc = scratch("snap-conc-alter")
    val t = SnapshotTable.create(spark, loc, events.limit(10))
    val v0 = t.latestVersion
    val base = DataType.fromJson(t.snapshot(v0).schemaJson).asInstanceOf[StructType]
    // two ALTERs validated against the SAME snapshot: each commits the
    // FINAL schema, so letting the second rebase would silently drop the
    // first one's column while keeping its own
    val withX = base.add("x_new", IntegerType, nullable = true)
    val withY = base.add("y_new", IntegerType, nullable = true)
    assert(t.commitEvolution(withX.json, Seq.empty, validatedAt = v0) == v0 + 1)
    intercept[java.util.ConcurrentModificationException] {
      t.commitEvolution(withY.json, Seq.empty, validatedAt = v0)
    }
    // the winner's schema change survived intact
    val finalSchema = DataType.fromJson(t.snapshot(t.latestVersion).schemaJson)
      .asInstanceOf[StructType]
    assert(finalSchema.fieldNames.contains("x_new"))
    assert(!finalSchema.fieldNames.contains("y_new"))
    // an ALTER validated against the CURRENT snapshot still lands
    assert(t.renameColumn("x_new", "x_renamed") == v0 + 2)
  }

  test("retention properties floor expiration (count and age)") {
    val loc = scratch("snap-retain")
    val t = SnapshotTable.create(spark, loc, events.limit(50))
    (1 to 4).foreach(i => t.append(events.limit(10 * i)))
    assert(t.versions.size == 5)

    // count floor: min-snapshots-to-keep overrides a lower keepLast
    t.setProperties(Map(SnapshotTable.MinSnapshotsToKeep -> "4"))
    t.expireSnapshots(keepLast = 1)
    // the property commit added a version; 4 must survive
    assert(t.versions.size == 4, s"count floor ignored: ${t.versions}")

    // age floor: everything is younger than an hour → nothing collectable
    t.setProperties(Map(SnapshotTable.MaxSnapshotAgeMs -> "3600000"))
    val before = t.versions
    t.expireSnapshots(keepLast = 1)
    assert(t.versions == before, "age floor ignored")

    // floors lifted → expiration collects as asked; properties survive
    // expiry (they live in the retained snapshot)
    t.setProperties(Map(SnapshotTable.MaxSnapshotAgeMs -> "0",
      SnapshotTable.MinSnapshotsToKeep -> "1"))
    t.expireSnapshots(keepLast = 1)
    assert(t.versions.size == 1)
    assert(t.properties(SnapshotTable.MinSnapshotsToKeep) == "1")
    assert(t.read().count() == 150) // 50 + 10+20+30+40 accumulated appends

    // malformed policies fail at SET time, not at the next expiration
    intercept[IllegalArgumentException] {
      t.setProperties(Map(SnapshotTable.MinSnapshotsToKeep -> "0"))
    }
    intercept[IllegalArgumentException] {
      t.setProperties(Map(SnapshotTable.MaxSnapshotAgeMs -> "5 days"))
    }
  }

  test("removeOrphans through a symlinked table root deletes nothing live") {
    val loc = scratch("snap-orphan-link")
    val t = SnapshotTable.create(spark, loc, events.limit(100))
    t.append(events.limit(50))
    val link = java.nio.file.Paths.get(scratch("snap-orphan-alias"))
    java.nio.file.Files.deleteIfExists(link)
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(loc))
    // opened via the alias, every manifest path spells the real root while
    // walk() yields the symlinked spelling — canonicalization must align them
    val viaLink = SnapshotTable.load(spark, link.toString)
    assert(viaLink.removeOrphans(graceMs = 0).isEmpty)
    assert(t.read().count() == 150)
  }

  test("additive schema evolution: old rows read null for new column") {
    val loc = scratch("snap-evolve")
    val t = SnapshotTable.create(spark, loc, events.limit(100))
    t.append(events.limit(50).withColumn("extra", lit(7)))
    val df = t.read()
    assert(df.columns.contains("extra"))
    assert(df.filter(col("extra").isNull).count() == 100)
    assert(df.filter(col("extra") === 7).count() == 50)
  }

  test("upsert replaces matched keys and inserts new ones atomically") {
    val loc = scratch("snap-upsert")
    val t = SnapshotTable.create(spark, loc, events.filter($"event_id" < 100))
    val updates = events.filter($"event_id" >= 50 && $"event_id" < 120)
      .withColumn("value", lit(999.99))
    t.upsert(updates, Seq("event_id"))
    val now = t.read()
    assert(now.count() == 120) // 0..49 kept, 50..119 upserted
    assert(now.filter($"event_id" >= 50 && $"value" === 999.99).count() == 70)
    assert(now.filter($"event_id" < 50 && $"value" === 999.99).count() == 0)
    // pre-merge snapshot still travelable
    assert(t.readVersion(0).count() == 100)
  }

  test("history lists every snapshot with operation and row counts") {
    val loc = scratch("snap-history")
    val t = SnapshotTable.create(spark, loc, events.limit(100))
    t.append(events.limit(50))
    t.compact()
    val h = t.history().orderBy("version").collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("append", "append", "compact"))
    assert(h.last.getAs[Long]("n_rows") == 150L)
  }

  // the commit-primitive CONTRACT suite: both strategies — the POSIX
  // hard-link default and the in-memory CAS simulating an object store's
  // conditional PUT — must give exactly-one-winner semantics at the
  // commit point and drive the same rebase-and-retry protocol above it
  private def primitives: Seq[(String, () => CommitPrimitive)] = Seq(
    "PosixHardLink" -> (() => CommitPrimitive.PosixHardLink),
    "InMemoryCas (S3 conditional-PUT simulation)" ->
      (() => new CommitPrimitive.InMemoryCas))

  primitives.foreach { case (label, mk) =>
    test(s"$label publish: exactly one concurrent writer wins a version") {
      val prim = mk()
      val dir = java.nio.file.Paths.get(scratch(s"commit-prim-${label.take(7)}"))
      java.nio.file.Files.createDirectories(dir)
      val dest = dir.resolve("v00042.json")
      val wins = new java.util.concurrent.atomic.AtomicInteger
      val losses = new java.util.concurrent.atomic.AtomicInteger
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          if (prim.publish(dest, s"writer-$i")) wins.incrementAndGet()
          else losses.incrementAndGet() // deterministic losing-writer path
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() == 1)
      assert(losses.get() == 7)
      // loser temp files are cleaned up; only the version file remains
      import scala.jdk.CollectionConverters._
      val left = java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(left == Seq("v00042.json"))
      // a later writer against the published version also loses (the
      // conditional-PUT-against-existing-object path)
      assert(!prim.publish(dest, "late-writer"))
    }

    test(s"$label commit seam: injected races rebase and lose no snapshot") {
      val prim = mk()
      val loc = scratch(s"snap-seam-${label.take(7)}")
      val t = SnapshotTable.create(spark, loc, events.limit(10))
      // between this writer's base-read and its publish, a competitor
      // commits twice — the exact interleaving an object-store conditional
      // PUT must surface. The mock injects the competitor at the commit
      // point; withPrimitive scopes it to this table's location only.
      var injected = 0
      val inCompetitor = new java.lang.ThreadLocal[java.lang.Boolean] {
        override def initialValue(): java.lang.Boolean = false
      }
      val racy = new CommitPrimitive {
        override def publish(dest: java.nio.file.Path, content: String): Boolean = {
          if (injected < 2 && !inCompetitor.get()) {
            injected += 1
            inCompetitor.set(true)
            try SnapshotTable.load(spark, loc).append(events.limit(5))
            finally inCompetitor.set(false)
            prim.publish(dest, content) // now loses
          } else prim.publish(dest, content)
        }
      }
      CommitPrimitive.withPrimitive(loc, racy) {
        t.append(events.limit(100))
      }
      // v0 create + 2 competitor appends + our append (after 2 rebases)
      assert(injected == 2)
      assert(t.latestVersion == 3)
      assert(t.read().count() == 10 + 5 + 5 + 100)
      assert(t.history().orderBy("version").collect()
        .map(_.getAs[String]("operation")).toSeq == Seq.fill(4)("append"))
    }
  }

  test("withPrimitive overrides are scoped: other locations keep the default") {
    val loc = scratch("snap-scope-a")
    // deliberately a RAW-PREFIX sibling of loc: the override must match on
    // path boundaries, not startsWith (…/snap-scope-a vs …/snap-scope-a-sib)
    val other = scratch("snap-scope-a-sib")
    val t = SnapshotTable.create(spark, loc, events.limit(10))
    val tOther = SnapshotTable.create(spark, other, events.limit(10))
    var calls = 0
    val counting = new CommitPrimitive {
      override def publish(dest: java.nio.file.Path, content: String): Boolean = {
        calls += 1
        CommitPrimitive.PosixHardLink.publish(dest, content)
      }
    }
    CommitPrimitive.withPrimitive(loc, counting) {
      t.append(events.limit(5))      // through the override
      tOther.append(events.limit(5)) // other table: default primitive
    }
    assert(calls == 1, s"override leaked to another location ($calls calls)")
    t.append(events.limit(5)) // restored after the scope
    assert(calls == 1)
  }

  test("versions past v99,999 stay in order: append, read and expire across the boundary") {
    import java.nio.file.{Files, Paths}
    val loc = scratch("snap-cliff")
    val t = SnapshotTable.create(spark, loc, events.limit(3))
    // a head at v99,999 without 100k commits: v0's document, renumbered
    val snaps = Paths.get(loc, "_snapshots")
    Files.writeString(snaps.resolve("v99999.json"),
      Files.readString(snaps.resolve("v00000.json"))
        .replaceFirst("\"version\"\\s*:\\s*0", "\"version\" : 99999"))
    assert(t.latestVersion == 99999)
    assert(t.append(events.limit(2)) == 100000)
    assert(t.latestVersion == 100000)
    assert(t.read().count() == 5)
    assert(t.append(events.limit(1)) == 100001)
    assert(SnapshotTable.load(spark, loc).read().count() == 6)
    t.expireSnapshots(keepLast = 1)
    assert(t.versions == Seq(100001))
    assert(t.read().count() == 6)
  }
}

package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The metadata layout of a [[SnapshotTable]], spelled only here (an
  * object-store port swaps this unit and [[CommitPrimitive]]):
  * {{{
  *   _snapshots/v00000.json …            main's chain
  *   _snapshots/manifests/m-<uuid>.json  manifest chunks (main's and branches')
  *   _refs/<branch>/v00003.json …        a branch's chain
  *   _refs/<tag>.tag.json                a tag: {"version":3}
  * }}}
  * Version files are `v%05d.json`, growing more digits past v99,999; only
  * that rendering parses, and versions order by number. A table exists
  * when main holds a version: an empty `_snapshots/` left by a first
  * commit that crashed before its publish is not a table. */
private[table] final class SnapshotLog private (dir: Path) {

  /** Committed versions, ascending: one directory listing. */
  def versions: Seq[Int] =
    SnapshotLog.names(dir).flatMap(SnapshotLog.version).sorted

  def headVersion: Int = versions.lastOption.getOrElse(-1)

  /** The head document; before the first commit, the empty base an edit
    * starts from (version -1, no schema). */
  def head: SnapshotTable.Snapshot = {
    val v = headVersion
    if (v < 0) SnapshotTable.Snapshot(-1, 0L, "", Seq.empty, "none") else read(v)
  }

  // documents are immutable once published (expiry deletes, never
  // rewrites), so each version parses once per chain
  private val parsed =
    new java.util.concurrent.ConcurrentHashMap[Int, SnapshotTable.Snapshot]()

  def read(version: Int): SnapshotTable.Snapshot =
    parsed.computeIfAbsent(version, { v =>
      SnapshotLog.parses.increment()
      SnapshotTable.parseSnapshot(Files.readString(file(v)))
    })

  /** The commit point: publish `doc` as `version` iff that version is
    * still free ([[CommitPrimitive]]). */
  def publish(version: Int, doc: String): Boolean = {
    Files.createDirectories(dir)
    CommitPrimitive.forDest(file(version)).publish(file(version), doc)
  }

  def drop(version: Int): Unit = Files.deleteIfExists(file(version))

  private def file(version: Int): Path = dir.resolve(SnapshotLog.fileName(version))
}

private[table] object SnapshotLog {

  private val VersionFile = "v([0-9]{5,})\\.json".r
  private val TagSuffix = ".tag.json"

  private def fileName(version: Int): String = f"v$version%05d.json"

  private def version(name: String): Option[Int] = name match {
    case VersionFile(digits) => digits.toIntOption.filter(fileName(_) == name)
    case _ => None
  }

  /** Directory listings and version documents parsed here: how specs
    * bound one operation's metadata IO. */
  private[table] val listings = new java.util.concurrent.atomic.LongAdder()
  private[table] val parses = new java.util.concurrent.atomic.LongAdder()

  // Using.resource: `Files.list` holds a directory handle until closed,
  // and leaked handles took the test JVM to EMFILE
  private def names(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      listings.increment()
      scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.map(_.getFileName.toString).toList)
    }

  private def refs(location: String): Path = Paths.get(location, "_refs")
  private def tagFile(location: String, name: String): Path =
    refs(location).resolve(name + TagSuffix)
  // chunks sit under main's directory for branch commits too: drop_ref
  // deletes the branch directory while published refs may still name them
  private def manifests(location: String): Path =
    Paths.get(location, "_snapshots", "manifests")

  def main(location: String): SnapshotLog =
    new SnapshotLog(Paths.get(location, "_snapshots"))

  def branch(location: String, name: String): SnapshotLog =
    new SnapshotLog(refs(location).resolve(name))

  def exists(location: String): Boolean = main(location).versions.nonEmpty

  def isBranch(location: String, name: String): Boolean =
    Files.isDirectory(refs(location).resolve(name))

  /** Every ref: name -> true for a branch, false for a tag. */
  def refNames(location: String): Seq[(String, Boolean)] =
    names(refs(location)).collect {
      case n if isBranch(location, n) => n -> true
      case n if n.endsWith(TagSuffix) => n.stripSuffix(TagSuffix) -> false
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def tag(location: String, name: String): Option[Int] =
    Some(tagFile(location, name)).filter(Files.exists(_))
      .map(f => mapper.readTree(Files.readString(f)).get("version").asInt)

  /** Create tag `name` at `version` iff no tag by that name exists. */
  def publishTag(location: String, name: String, version: Int): Boolean = {
    val f = tagFile(location, name)
    Files.createDirectories(f.getParent)
    CommitPrimitive.forDest(f).publish(f, s"""{"version":$version}""")
  }

  /** Delete branch `name` (its whole chain) or tag `name`; false when
    * neither exists. */
  def dropRef(location: String, name: String): Boolean =
    if (isBranch(location, name)) {
      graft.Tables.deleteRecursively(refs(location).resolve(name).toString)
      true
    } else Files.deleteIfExists(tagFile(location, name))

  /** Write manifest chunk documents; returns the absolute paths snapshot
    * documents store as refs. */
  def writeChunks(location: String, docs: Seq[String]): Seq[String] = {
    if (docs.isEmpty) return Seq.empty
    val dir = Files.createDirectories(manifests(location))
    docs.map(doc => Files.writeString(
      dir.resolve(s"m-${java.util.UUID.randomUUID}.json"), doc).toString)
  }

  def chunks(location: String): Seq[Path] = {
    val dir = manifests(location)
    names(dir).map(dir.resolve).filter(Files.isRegularFile(_))
  }

  /** Rewrite `from` to `to` in every path-carrying document under
    * `location`: main's and each branch's versions, and the chunks. */
  def rewritePaths(location: String, from: String, to: String): Unit = {
    val chains = main(location) +: refNames(location).collect {
      case (n, true) => branch(location, n)
    }
    (chains.flatMap(c => c.versions.map(c.file)) ++ chunks(location))
      .foreach(p => Files.writeString(p, Files.readString(p).replace(from, to)))
  }
}

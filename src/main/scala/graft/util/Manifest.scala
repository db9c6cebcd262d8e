package graft.util

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-manifest publication for persisted index directories —
  * the reader-ATOMIC upgrade over the rename-in-place rewrite of
  * earlier revisions ([[Fs.recoverSwap]])
  * (whose two renames leave an instant where the table is missing, and
  * whose multi-table sequences are crash-completable but not
  * transactional: a concurrent reader could see `postings` from the
  * new compaction and `buckets` from the old).
  *
  * Discipline (the one every table format uses): maintenance writes
  * NEW table versions BESIDE the old (`<table>.v<N>` sibling dirs;
  * untouched partitions are HARDLINKED, only affected partitions are
  * rewritten — metadata-cost CoW, no data copy), then flips ONE
  * pointer file (`MANIFEST`, a `table=dirname` map covering EVERY
  * table of the index) with an atomic same-directory rename. A reader
  * resolves all of an index's tables through one manifest read, so it
  * observes either the complete old state or the complete new state —
  * never a missing table, never a mixed multi-table snapshot (the
  * minhash postings/sizes/buckets trio versions together). The
  * tombstone sidecar drops out of the manifest IN THE SAME FLIP as the
  * compacted data lands, so "compacted" and "sidecar cleared" are one
  * atomic transition instead of a window.
  *
  * Old versions are garbage-collected with a one-flip GRACE: the
  * pre-flip mapping is kept in `MANIFEST.prev`, and GC deletes only
  * directories referenced by NEITHER file — a reader that resolved the
  * manifest just before a flip can finish its scan; it must only
  * re-resolve before the flip after next. Crash matrix: a crash while
  * building new versions leaves orphan `.vN` dirs that the next
  * publish's entry GC removes (the manifest never pointed at them); a
  * crash between prev-write and flip leaves prev == manifest
  * (harmless); the flip itself is a single POSIX rename. Single
  * WRITER still assumed (maintenance is serialized per index);
  * readers are now unrestricted.
  *
  * Legacy layout (plain `root/<table>` dirs, no `MANIFEST`) reads
  * unchanged; the first publish ADOPTS it — the initial manifest just
  * points at the existing plain directories, no data moves. At real
  * object-store scale the same shape holds with the manifest as the
  * pointer object and version prefixes instead of hardlinks
  * (hardlinks here stand in for the store's cheap same-blob
  * references). */
object Manifest {

  val FileName = "MANIFEST"
  val PrevName = "MANIFEST.prev"
  private val TmpName = "_MANIFEST.tmp"
  private val VersionRe = """(.+)\.v(\d+)""".r

  /** One table's maintenance rewrite inside a publish.
    * `parts = None` rewrites the whole table; `parts = Some(rel)`
    * rewrites only those RELATIVE partition subpaths (nested like
    * `band=1/bucket=9` allowed) and hardlinks everything else. */
  final case class TableRewrite(
      table: String,
      parts: Option[Seq[String]],
      rewrite: DataFrame => DataFrame)

  /** The manifest mapping, if this root has one. A read error on an
    * EXISTING manifest PROPAGATES — swallowing it would read as "no
    * manifest"/"empty manifest", and an empty mapping fed to the
    * publish-time GC would delete every live version dir (a transient
    * IO blip must abort the operation, never destroy the index). */
  def read(root: Path): Option[Map[String, String]] = {
    val f = root.resolve(FileName)
    if (!Files.isRegularFile(f)) None
    else Some(parse(f))
  }

  private def parse(f: Path): Map[String, String] =
    Files.readAllLines(f).asScala
      .map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(t, d) => Some(t -> d)
          case _ => None
        }
      }.toMap

  /** Lenient parse for the GRACE file only: a torn/unreadable
    * `MANIFEST.prev` costs one flip of GC grace, never correctness. */
  private def parsePrev(f: Path): Map[String, String] =
    try parse(f)
    catch { case _: java.io.IOException => Map.empty }

  /** One consistent multi-table view of an index root: the manifest
    * read ONCE, every table resolved from it. Readers that touch more
    * than one table of an index (the minhash postings/sizes/buckets
    * trio, any data table plus the tombstone sidecar) MUST resolve
    * through one snapshot — per-table [[resolve]] calls could straddle
    * a flip and pair tables from two different states (e.g. compacted
    * data with the already-retired sidecar dropped, silently
    * resurrecting deleted rows). A snapshot stays readable for one
    * further flip (the GC grace); re-snapshot per logical operation. */
  final case class Snapshot(root: Path, mapping: Option[Map[String, String]]) {
    def resolve(table: String): Option[Path] = mapping match {
      case Some(m) => m.get(table).map(root.resolve)
      case None =>
        val p = root.resolve(table)
        if (Files.isDirectory(p)) Some(p) else None
    }
    def path(table: String): String =
      resolve(table).getOrElse(throw new IllegalStateException(
        s"no table '$table' under index dir $root " +
          "(missing from MANIFEST or legacy layout)")).toString
    def exists(table: String): Boolean =
      resolve(table).exists(Files.isDirectory(_))
  }

  def snapshot(dir: String): Snapshot = {
    val root = java.nio.file.Paths.get(dir)
    Snapshot(root, read(root))
  }

  /** Resolve a table dir: manifest AUTHORITATIVE when present (a
    * missing entry means the table does not exist, even if a stale
    * plain dir lingers until GC); legacy plain-dir fallback when no
    * manifest exists. Single-table convenience — multi-table readers
    * use [[snapshot]]. */
  def resolve(root: Path, table: String): Option[Path] =
    Snapshot(root, read(root)).resolve(table)

  /** [[resolve]] for the common read-side call shape; throws with the
    * layout contract named if the table is absent. */
  def tablePath(dir: String, table: String): String =
    resolve(java.nio.file.Paths.get(dir), table)
      .getOrElse(throw new IllegalStateException(
        s"no table '$table' under index dir $dir " +
          "(missing from MANIFEST or legacy layout)"))
      .toString

  def tableExists(dir: String, table: String): Boolean =
    resolve(java.nio.file.Paths.get(dir), table)
      .exists(Files.isDirectory(_))

  /** The current mapping, adopting a legacy layout if no manifest
    * exists yet: every plain child dir (not a version sibling, not
    * `_`/`.`-prefixed) maps to itself. */
  def entries(root: Path): Map[String, String] = read(root).getOrElse {
    if (!Files.isDirectory(root)) Map.empty
    else listDirs(root)
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") &&
          (VersionRe.findFirstIn(n) match {
            case Some(VersionRe(_, _)) => false
            case _ => true
          })
      }
      .map(p => p.getFileName.toString -> p.getFileName.toString)
      .toMap
  }

  private def listDirs(root: Path): Seq[Path] = {
    val s = Files.list(root)
    try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
    finally s.close()
  }

  /** Fresh version-dir name for `table`: one past the max existing
    * sibling. A REFERENCED version's number can never be reissued
    * while its dir exists (grace keeps it on disk, and this scans
    * disk); an unreferenced orphan's number may be reused after GC —
    * safe, since the manifest never pointed at it and no reader can
    * hold its name. */
  def nextVersion(root: Path, table: String): String = {
    val vs = if (!Files.isDirectory(root)) Seq.empty
    else listDirs(root).map(_.getFileName.toString).collect {
      case VersionRe(t, v) if t == table => v.toLong
    }
    s"$table.v${(0L +: vs).max + 1}"
  }

  /** Atomic pointer flip: write the new mapping to a temp file in the
    * same directory, then one rename. */
  def flip(root: Path, newEntries: Map[String, String]): Unit = {
    Files.createDirectories(root)
    val tmp = root.resolve(TmpName)
    Files.write(tmp,
      newEntries.toSeq.sorted.map { case (t, d) => s"$t=$d" }
        .mkString("\n").getBytes("UTF-8"))
    // REPLACE_EXISTING spelled out: ATOMIC_MOVE onto an existing
    // target is implementation-specific per the javadoc (POSIX rename
    // replaces; other providers may throw) — fall back to the bare
    // atomic move where the combination is unsupported
    try Files.move(tmp, root.resolve(FileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: UnsupportedOperationException =>
        Files.move(tmp, root.resolve(FileName),
          StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Publish a maintenance step: build new versions of the rewritten
    * tables beside the current ones, flip the manifest once (also
    * dropping `drop`-listed tables — the compactors drop `tombstones`
    * here, making compaction + sidecar-clear one atomic transition),
    * GC versions no longer referenced by manifest or prev. */
  def publishRewrite(
      spark: SparkSession, root: Path,
      rewrites: Seq[TableRewrite], drop: Seq[String] = Nil): Unit = {
    val cur = entries(root)
    gcOrphans(root, cur)
    val replaced = rewrites.map { r =>
      val src = root.resolve(cur.getOrElse(r.table,
        throw new IllegalStateException(
          s"publishRewrite: no table '${r.table}' under $root")))
      val dstName = nextVersion(root, r.table)
      val dst = root.resolve(dstName)
      r.parts match {
        case None =>
          r.rewrite(spark.read.parquet(src.toString))
            .write.parquet(dst.toString)
        case Some(parts) =>
          val affected = parts.map(src.resolve).toSet
          linkTreeExcept(src, dst, affected)
          parts.foreach { rel =>
            val sp = src.resolve(rel)
            if (Files.isDirectory(sp))
              r.rewrite(spark.read.parquet(sp.toString))
                .write.parquet(dst.resolve(rel).toString)
          }
      }
      r.table -> dstName
    }
    val next = cur ++ replaced -- drop
    writePrev(root, cur)
    flip(root, next)
    gcOrphans(root, next)
  }

  /** Publish externally-built table content — the retrain-and-cutover
    * primitive: each `(table, writeFn)` writes a fresh version dir
    * beside the current one (the writeFn receives the destination
    * path), then ONE flip swaps every listed table (and drops `drop` —
    * a retrained index retires the old sidecar with the old
    * membership). The previous versions stay for one flip (grace =
    * the rollback window: flipping the manifest back by hand restores
    * the old index wholesale). */
  def publishTables(
      spark: SparkSession, root: Path,
      writes: Seq[(String, Path => Unit)], drop: Seq[String] = Nil)
      : Unit = {
    val cur = entries(root)
    gcOrphans(root, cur)
    val replaced = writes.map { case (t, w) =>
      val name = nextVersion(root, t)
      w(root.resolve(name))
      t -> name
    }
    val next = cur ++ replaced -- drop
    writePrev(root, cur)
    flip(root, next)
    gcOrphans(root, next)
  }

  /** Full-index (re)build publication — what every `*IndexWrite`
    * routes through: on an UNMANAGED root the tables write as plain
    * dirs (the legacy initial layout, zero overhead); on a
    * manifest-MANAGED root a plain in-place rewrite would be ignored
    * by resolution (the manifest is authoritative) and collected by
    * the next publish's GC, so the fresh tables publish as new
    * versions and the flip maps EXACTLY the written tables — old data
    * tables and any live tombstone sidecar retire in the same flip (a
    * rebuild replaces the index wholesale, including its
    * logical-delete state). */
  def writeIndex(
      spark: SparkSession, root: Path,
      writes: Seq[(String, Path => Unit)]): Unit = read(root) match {
    case Some(m) =>
      publishTables(spark, root, writes,
        drop = (m.keySet -- writes.map(_._1)).toSeq)
    case None =>
      writes.foreach { case (t, w) => w(root.resolve(t)) }
  }

  /** Record the pre-flip mapping as the GC grace set. Plain
    * (non-atomic) write: it only guards GC — a torn prev after a
    * crash costs grace, never correctness. */
  private def writePrev(root: Path, cur: Map[String, String]): Unit =
    Files.write(root.resolve(PrevName),
      cur.toSeq.sorted.map { case (t, d) => s"$t=$d" }
        .mkString("\n").getBytes("UTF-8"))

  /** Delete version-pattern sibling dirs referenced by neither the
    * live mapping nor `MANIFEST.prev` — crash orphans and
    * out-of-grace old versions. Plain (legacy-named) dirs are also
    * collected once neither file references them. */
  private def gcOrphans(root: Path, live: Map[String, String]): Unit = {
    if (!Files.isDirectory(root)) return
    val prev = {
      val f = root.resolve(PrevName)
      if (Files.isRegularFile(f)) parsePrev(f)
      else Map.empty[String, String]
    }
    val keep = (live.values ++ prev.values).toSet
    // only dirs that LOOK like manifest-managed tables are candidates:
    // version siblings always; plain-named dirs only when a manifest
    // exists (pre-adoption legacy dirs must never be swept)
    val managed = Files.isRegularFile(root.resolve(FileName))
    listDirs(root).foreach { p =>
      val n = p.getFileName.toString
      val candidate = n match {
        case _ if n.startsWith("_") || n.startsWith(".") => false
        case VersionRe(_, _) => true
        case _ => managed
      }
      if (candidate && !keep.contains(n)) Fs.deleteRecursively(p)
    }
  }

  /** Hardlink-CoW a directory tree, skipping `except` subtrees:
    * directories are recreated, files are hardlinked (copy fallback
    * for filesystems without link support). O(#files) metadata ops,
    * zero data movement. */
  private def linkTreeExcept(src: Path, dst: Path, except: Set[Path]): Unit = {
    if (except.contains(src)) return
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      val s = Files.list(src)
      try s.iterator().asScala.toSeq.foreach { c =>
        linkTreeExcept(c, dst.resolve(c.getFileName.toString), except)
      } finally s.close()
    } else {
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}

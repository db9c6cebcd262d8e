package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Tiny filesystem helpers shared by the operational mains. */
object Fs {

  /** Rewrite a parquet table directory in place, crash-tolerantly:
    * write `f(read(src))` to `_swap.<name>`, retire `src` to
    * `_old.<name>` (one directory rename), promote the swap to `src`
    * (one rename), delete the old. Single writer assumed. This is NOT
    * an atomic swap — a reader racing the two renames can observe a
    * missing `src` for that instant — but every crash point leaves a
    * COMPLETABLE state that [[recoverSwap]] (run at the head of every
    * rewrite) finishes: a partial swap with `src` intact is
    * discarded; `src` missing with a complete swap (the retire
    * happened, so the swap write had finished) is promoted; a stale
    * old after promotion is deleted. Callers sequencing multiple
    * tables (compaction) must clear their own done-marker (e.g. the
    * tombstone sidecar) LAST, so an interrupted run re-executes. */
  /** Temp siblings are UNDERSCORE-prefixed: Spark's partition
    * discovery ignores `_`/`.`-prefixed directories, so a swap of a
    * partition directory (`c=5`, `bucket=9`) can never leak a bogus
    * partition value (`c=5._swap` would parse as c = "5._swap" and
    * poison the parent read's partition schema). */
  private def swapOf(src: Path): Path =
    src.resolveSibling("_swap." + src.getFileName.toString)
  private def oldOf(src: Path): Path =
    src.resolveSibling("_old." + src.getFileName.toString)

  def rewriteSwap(
      spark: org.apache.spark.sql.SparkSession, src: Path)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Unit = {
    recoverSwap(src)
    val swap = swapOf(src)
    val old = oldOf(src)
    f(spark.read.parquet(src.toString))
      .write.mode("overwrite").parquet(swap.toString)
    Files.move(src, old)
    Files.move(swap, src)
    deleteRecursively(old)
  }

  /** Complete or discard an interrupted [[rewriteSwap]] — see its doc
    * for the crash matrix. Safe to call any time for `src`. Also
    * recovers residue under the LEGACY suffix naming
    * (`<name>._swap`/`<name>._old`, one shipped revision) — without
    * this shim a pre-rename crash would strand its table forever (and
    * a legacy `bucket=9._swap` would keep poisoning the parent's
    * partition schema with nothing ever cleaning it). */
  def recoverSwap(src: Path): Unit = {
    for ((swap, old) <- Seq(
        (swapOf(src), oldOf(src)),
        (src.resolveSibling(src.getFileName.toString + "._swap"),
          src.resolveSibling(src.getFileName.toString + "._old")))) {
      if (!Files.isDirectory(src) && Files.isDirectory(swap))
        Files.move(swap, src) // retire happened ⇒ swap write was complete
      if (Files.isDirectory(src)) {
        deleteRecursively(swap) // partial write from a crash before retire
        deleteRecursively(old) // crash between promote and cleanup
      }
    }
  }

  private val sweptRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One-shot (per JVM per root) recursive sweep completing ANY
    * interrupted [[rewriteSwap]] residue under an index dir — the
    * read-side recovery the per-path lazy [[recoverSwap]] misses: a
    * stranded `bucket=9._swap` (legacy suffix naming) under an index
    * that is read but never compacted again would otherwise poison the
    * parent table's partition-discovery schema forever. Both the
    * current `_swap.<name>`/`_old.<name>` and the legacy
    * `<name>._swap`/`<name>._old` spellings are collected; recovery
    * itself is [[recoverSwap]]'s crash matrix per stranded source.
    * Cost is one directory walk, memoized per root — callers mount it
    * at index OPEN (the shared tombstone read of
    * [[graft.ext.PersistedIndex]]), not per probe. Single-writer
    * assumed, like every rewrite here: sweeping while another
    * process's rewrite is mid-flight would discard its in-progress
    * swap. */
  def sweepSwapResidue(root: Path): Unit = {
    val key = root.toAbsolutePath.normalize.toString
    if (!Files.isDirectory(root) || !sweptRoots.add(key)) return
    val residue = scala.collection.mutable.ListBuffer.empty[Path]
    try {
      val walk = Files.walk(root)
      try walk.forEach { p =>
        if (Files.isDirectory(p)) {
          val n = p.getFileName.toString
          if (n.startsWith("_swap.") || n.startsWith("_old."))
            residue += p.resolveSibling(n.stripPrefix("_swap.")
              .stripPrefix("_old."))
          else if (n.endsWith("._swap") || n.endsWith("._old"))
            residue += p.resolveSibling(n.stripSuffix("._swap")
              .stripSuffix("._old"))
        }
      } finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
    residue.distinct.foreach(recoverSwap)
  }

  /** Best-effort recursive delete (children before parents). Each
    * entry is attempted independently and traversal failures are
    * swallowed — callers are cleanup paths (shutdown hooks, temp-dir
    * teardown) where a concurrent writer (e.g. Spark's own shutdown
    * hook still flushing a checkpoint) must not abort the sweep with an
    * UncheckedIOException. */
  def deleteRecursively(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
      } finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => ()
    }
}

package graft

import org.apache.spark.sql.functions._
import graft.util.Fs

/** The crash matrix of the rename-in-place rewrite, simulated state by
  * state: residue left by an interrupted rewrite of an earlier revision
  * must be COMPLETABLE by [[Fs.recoverSwap]]. */
class FsSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(p: java.nio.file.Path, ids: Seq[Long]): Unit =
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(p.toString)

  private def readIds(p: java.nio.file.Path): Set[Long] =
    spark.read.parquet(p.toString).select(col("id"))
      .collect().map(_.getLong(0)).toSet

  test("recoverSwap completes every crash state") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsspec2")
    val src = root.resolve("t")
    // state A: crash DURING the swap write (src intact, swap partial)
    // -> the partial swap is discarded, src untouched
    writeTable(src, Seq(1L, 2L))
    java.nio.file.Files.createDirectories(root.resolve("_swap.t"))
    java.nio.file.Files.write(
      root.resolve("_swap.t").resolve("part-garbage.parquet"),
      Array[Byte](1, 2, 3))
    Fs.recoverSwap(src)
    assert(readIds(src) === Set(1L, 2L))
    assert(!java.nio.file.Files.exists(root.resolve("_swap.t")))
    // state B: crash BETWEEN retire and promote (src missing, swap
    // complete, old = the pre-image) -> swap promoted, old cleared
    writeTable(root.resolve("_swap.t"), Seq(9L))
    java.nio.file.Files.move(src, root.resolve("_old.t"))
    Fs.recoverSwap(src)
    assert(readIds(src) === Set(9L))
    assert(!java.nio.file.Files.exists(root.resolve("_swap.t")))
    assert(!java.nio.file.Files.exists(root.resolve("_old.t")))
    // state C: crash AFTER promote, before cleanup (old stale)
    writeTable(root.resolve("_old.t"), Seq(7L))
    Fs.recoverSwap(src)
    assert(readIds(src) === Set(9L))
    assert(!java.nio.file.Files.exists(root.resolve("_old.t")))
    Fs.deleteRecursively(root)
  }

  test("recoverSwap also completes LEGACY-suffix residue " +
    "(t._swap / t._old from the one shipped suffix-naming revision)") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsspec4")
    val src = root.resolve("t")
    // legacy state B: src missing, complete t._swap + t._old pre-image
    writeTable(root.resolve("t._swap"), Seq(11L))
    writeTable(root.resolve("t._old"), Seq(1L))
    Fs.recoverSwap(src)
    assert(readIds(src) === Set(11L))
    assert(!java.nio.file.Files.exists(root.resolve("t._swap")))
    assert(!java.nio.file.Files.exists(root.resolve("t._old")))
    // legacy state A: partial t._swap next to an intact src -> cleaned
    java.nio.file.Files.createDirectories(root.resolve("t._swap"))
    Fs.recoverSwap(src)
    assert(readIds(src) === Set(11L))
    assert(!java.nio.file.Files.exists(root.resolve("t._swap")))
    Fs.deleteRecursively(root)
  }

  test("sweepSwapResidue recovers stranded residue anywhere under an " +
    "index root — including legacy partition-dir poison — one-shot") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsspec5")
    // a nested table whose rewrite crashed pre-promote under the
    // LEGACY naming: src gone, complete swap — without the sweep this
    // table is stranded forever (nothing ever compacts it again), and
    // `bucket=9._swap` poisons the parent's partition discovery
    val tbl = root.resolve("buckets").resolve("band=1")
    java.nio.file.Files.createDirectories(tbl)
    writeTable(tbl.resolve("bucket=9._swap"), Seq(42L))
    // and a current-naming stale old next to an intact src elsewhere
    val other = root.resolve("sizes")
    writeTable(other, Seq(1L))
    writeTable(root.resolve("_old.sizes"), Seq(0L))
    Fs.sweepSwapResidue(root)
    assert(readIds(tbl.resolve("bucket=9")) === Set(42L))
    assert(!java.nio.file.Files.exists(tbl.resolve("bucket=9._swap")))
    assert(readIds(other) === Set(1L))
    assert(!java.nio.file.Files.exists(root.resolve("_old.sizes")))
    Fs.deleteRecursively(root)
  }
}

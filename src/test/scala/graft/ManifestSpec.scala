package graft

import org.apache.spark.sql.functions._
import graft.util.{Fs, Manifest}

/** The versioned-manifest publication layer ([[graft.util.Manifest]])
  * — legacy adoption, GC grace, hardlink CoW, the crash matrix, and
  * the property the whole design exists for: a reader racing
  * maintenance observes either the complete old state or the complete
  * new state, never a missing table or a mixed multi-table snapshot. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  private def write(p: java.nio.file.Path, vals: Seq[Long]): Unit =
    vals.toDF("id").coalesce(1).write.mode("overwrite").parquet(p.toString)

  private def readIds(d: String, t: String): Set[Long] =
    spark.read.parquet(Manifest.tablePath(d, t)).select(col("id"))
      .collect().map(_.getLong(0)).toSet

  test("legacy layout resolves unchanged; first publish adopts it " +
    "without moving data") {
    val root = tmp("graft-man-adopt")
    write(root.resolve("a"), Seq(1L, 2L, 3L))
    write(root.resolve("b"), Seq(10L))
    assert(Manifest.read(root).isEmpty)
    assert(readIds(root.toString, "a") === Set(1L, 2L, 3L))
    Manifest.publishRewrite(spark, root, Seq(
      Manifest.TableRewrite("a", None, _.where(col("id") =!= 2L))))
    val m = Manifest.read(root).get
    assert(m("a") === "a.v1", "rewritten table gets a version dir")
    assert(m("b") === "b", "untouched table adopted in place")
    assert(readIds(root.toString, "a") === Set(1L, 3L))
    assert(readIds(root.toString, "b") === Set(10L))
    // GRACE: the pre-flip dir survives this publish (a racing reader
    // may still be scanning it) and is GC'd by the next one
    assert(java.nio.file.Files.isDirectory(root.resolve("a")))
    Manifest.publishRewrite(spark, root, Seq(
      Manifest.TableRewrite("a", None, df => df)))
    assert(!java.nio.file.Files.isDirectory(root.resolve("a")),
      "out-of-grace plain version collected")
    assert(readIds(root.toString, "a") === Set(1L, 3L))
    Fs.deleteRecursively(root)
  }

  test("partial rewrite hardlinks untouched partitions (same inode) " +
    "and rewrites only the affected ones") {
    val root = tmp("graft-man-link")
    Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("id", "c")
      .write.partitionBy("c").parquet(root.resolve("t").toString)
    def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
      } finally s.close()
    }
    def ino(p: java.nio.file.Path): Any =
      java.nio.file.Files.getAttribute(p, "unix:ino")
    val before = files(root.resolve("t").resolve("c=1")).map(ino).toSet
    Manifest.publishRewrite(spark, root, Seq(
      Manifest.TableRewrite("t", Some(Seq("c=0")),
        _.where(col("id") =!= 2L))))
    val cur = java.nio.file.Paths.get(Manifest.tablePath(root.toString, "t"))
    assert(cur.getFileName.toString === "t.v1")
    assert(files(cur.resolve("c=1")).map(ino).toSet === before,
      "untouched partition files are the same inodes — zero data copy")
    assert(spark.read.parquet(cur.toString)
      .select(col("id")).collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L))
    Fs.deleteRecursively(root)
  }

  test("crash matrix: orphan version dirs from an interrupted build " +
    "are GC'd at the next publish; a stale flip temp never wins") {
    val root = tmp("graft-man-crash")
    write(root.resolve("t"), Seq(1L, 2L))
    Manifest.publishRewrite(spark, root, Seq(
      Manifest.TableRewrite("t", None, df => df)))
    // crash mid-build: a half-written version dir the manifest never
    // pointed at
    val orphan = root.resolve("t.v9")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-garbage.parquet"),
      Array[Byte](1, 2, 3))
    // crash between tmp write and rename: a stale temp manifest
    java.nio.file.Files.write(root.resolve("_MANIFEST.tmp"),
      "t=GARBAGE".getBytes("UTF-8"))
    assert(readIds(root.toString, "t") === Set(1L, 2L),
      "neither residue affects readers")
    Manifest.publishRewrite(spark, root, Seq(
      Manifest.TableRewrite("t", None, _.where(col("id") =!= 2L))))
    assert(!java.nio.file.Files.exists(orphan), "orphan collected")
    assert(readIds(root.toString, "t") === Set(1L))
    // an orphan's number may be reused — the manifest never pointed
    // at it, so no reader can hold a stale reference to that name
    assert(Manifest.read(root).get("t") === "t.v2")
    Fs.deleteRecursively(root)
  }

  test("multi-table publish is one atomic transition: a concurrent " +
    "reader never sees tables from two different states") {
    val root = tmp("graft-man-atomic")
    val tables = Seq("postings", "sizes", "buckets")
    for (t <- tables) write(root.resolve(t), Seq(0L))
    @volatile var stop = false
    @volatile var torn: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && torn.isEmpty) {
        try {
          // one logical read of the trio through ONE snapshot — the
          // reader contract every index read path follows (per-table
          // resolution would straddle flips and mix epochs)
          val snap = Manifest.snapshot(root.toString)
          val vals = tables.map(t =>
            spark.read.parquet(snap.path(t)).select(col("id"))
              .collect().map(_.getLong(0)).toSet)
          if (vals.distinct.size != 1)
            torn = Some(s"mixed epochs: ${tables.zip(vals)}")
        } catch {
          case e: Exception => torn = Some(s"reader failed: $e")
        }
      }
    })
    reader.start()
    try {
      for (epoch <- 1L to 6L) {
        Manifest.publishRewrite(spark, root, tables.map(t =>
          Manifest.TableRewrite(t, None, df =>
            df.select(lit(epoch).as("id")))))
      }
    } finally { stop = true; reader.join(30000) }
    assert(torn.isEmpty, torn.getOrElse(""))
    assert(tables.map(t => readIds(root.toString, t)).distinct ===
      Seq(Set(6L)))
    Fs.deleteRecursively(root)
  }

  test("IVF maintenance under a concurrent reader: every read is a " +
    "complete snapshot (full corpus or corpus-minus-tombstones)") {
    val dim = 8
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 3.1 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = graft.ext.Similarity.ivfBuild(
      df, "vec_id", "embedding", k = 4, dim = Some(dim))
    val dir = tmp("graft-man-ivfrace").toString
    graft.ext.Similarity.ivfIndexWrite(idx, dir)
    val all = (0L until 60L).toSet
    val batch = Set(7L, 23L, 41L)
    @volatile var stop = false
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && bad.isEmpty) {
        try {
          val ids = graft.ext.Similarity.ivfIndexRead(spark, dir)
            .assigned.select(col("id").cast("long"))
            .collect().map(_.getLong(0)).toSet
          if (ids != all && ids != (all -- batch))
            bad = Some(s"partial snapshot: missing ${all -- ids}, " +
              s"extra ${ids -- all}")
        } catch {
          case e: Exception => bad = Some(s"read failed: $e")
        }
      }
    })
    reader.start()
    try {
      for (_ <- 1 to 3) {
        // delete → compact (physical) → re-append the same vectors:
        // every intermediate state a reader may catch is one of the
        // two complete snapshots
        graft.ext.Similarity.IvfFamily.delete(dir,
          batch.toSeq.toDF("vec_id"), "vec_id")
        graft.ext.Similarity.IvfFamily.compact(spark, dir)
        graft.ext.Similarity.ivfIndexAppendIdempotent(spark, dir,
          df.where(col("vec_id").isin(batch.toSeq: _*)),
          "vec_id", "embedding")
      }
    } finally { stop = true; reader.join(60000) }
    assert(bad.isEmpty, bad.getOrElse(""))
    assert(graft.ext.Similarity.ivfIndexRead(spark, dir)
      .assigned.count() === 60L)
    Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ext.Caches.release()
  }

  test("IVF retrain-and-cutover: the A/B report precedes one atomic " +
    "flip, a concurrent reader is never interrupted, and the old " +
    "version stays on disk as the rollback window") {
    val dim = 8
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.cos(i * 1.9 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dir = tmp("graft-man-retrain").toString
    graft.ext.Similarity.ivfIndexWrite(
      graft.ext.Similarity.ivfBuild(
        df, "vec_id", "embedding", k = 4, dim = Some(dim)),
      dir)
    // live tombstones: the retrained index's membership replaces them
    graft.ext.Similarity.IvfFamily.delete(
      dir, Seq(11L, 12L).toDF("vec_id"), "vec_id")
    @volatile var stop = false
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && bad.isEmpty) {
        try {
          val n = graft.ext.Similarity.ivfIndexRead(spark, dir)
            .assigned.count()
          // pre-cutover: 60 minus 2 tombstones; post-cutover: all 60
          if (n != 58L && n != 60L)
            bad = Some(s"partial snapshot: $n members")
        } catch {
          case e: Exception => bad = Some(s"read failed: $e")
        }
      }
    })
    reader.start()
    val report =
      try graft.ext.Similarity.ivfIndexRetrain(
        spark, dir, df, "vec_id", "embedding", k = 8, dim = Some(dim))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))).toMap
      finally { stop = true; reader.join(60000) }
    assert(bad.isEmpty, bad.getOrElse(""))
    // the go/no-go record: both sides audited, sane ranges
    assert(report.keySet === Set("old", "new"))
    for ((side, (nq, nEx, nAp, nHit, rec)) <- report) {
      assert(nq > 0L, s"$side audited zero queries")
      assert(nHit <= nEx && nHit <= nAp, side)
      assert(rec >= 0L && rec <= 10000L, side)
    }
    // cutover landed: the new codebook serves, membership is the new
    // build's (tombstones retired), old version still on disk
    val after = graft.ext.Similarity.ivfIndexRead(spark, dir)
    assert(after.centroids.size === 8)
    assert(after.assigned.count() === 60L)
    assert(!Manifest.tableExists(dir, "tombstones"))
    val prev = java.nio.file.Paths.get(dir).resolve(Manifest.PrevName)
    assert(java.nio.file.Files.isRegularFile(prev))
    val root = java.nio.file.Paths.get(dir)
    val prevAssigned = java.nio.file.Files.readAllLines(prev)
      .toArray.map(_.toString).find(_.startsWith("assigned="))
      .map(_.split("=", 2)(1)).get
    assert(java.nio.file.Files.isDirectory(root.resolve(prevAssigned)),
      "rollback window: the pre-cutover assigned version survives")
    // the audit's absolute query cap: deterministic pmd5-ordered
    // subset, so its cost stays linear in index size whatever the
    // sampling mods say
    val capped = graft.ext.Similarity.ivfRecallSampledRow(
      after, sampleMod = 1, corpusMod = 1, k = 10, nProbe = 4,
      maxQueries = 5).head()
    assert(capped.getLong(0) === 5L)
    Fs.deleteRecursively(root)
    graft.ext.Caches.release()
  }

  test("index REBUILD into a manifest-managed dir publishes: readers " +
    "serve the fresh corpus and the old sidecar retires in the flip") {
    val dim = 8
    def vecsOf(n: Int) = (0 until n).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 4.2 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = tmp("graft-man-rebuild").toString
    graft.ext.Similarity.ivfIndexWrite(
      graft.ext.Similarity.ivfBuild(
        vecsOf(30), "vec_id", "embedding", k = 4, dim = Some(dim)),
      dir)
    // maintenance makes the dir manifest-managed
    graft.ext.Similarity.IvfFamily.delete(
      dir, Seq(7L).toDF("vec_id"), "vec_id")
    graft.ext.Similarity.IvfFamily.compact(spark, dir)
    assert(Manifest.read(java.nio.file.Paths.get(dir)).isDefined)
    // leave a live sidecar, then REBUILD wholesale on a bigger corpus
    graft.ext.Similarity.IvfFamily.delete(
      dir, Seq(8L).toDF("vec_id"), "vec_id")
    graft.ext.Similarity.ivfIndexWrite(
      graft.ext.Similarity.ivfBuild(
        vecsOf(50), "vec_id", "embedding", k = 4, dim = Some(dim)),
      dir)
    // the rebuild is VISIBLE (a plain in-place write would be ignored
    // by manifest resolution and GC'd) and the old sidecar retired
    // with the old membership — id 8 serves again
    val after = graft.ext.Similarity.ivfIndexRead(spark, dir)
    assert(after.assigned.count() === 50L)
    assert(after.assigned.where(col("id") === 8L).count() === 1L)
    assert(!Manifest.tableExists(dir, "tombstones"))
    Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ext.Caches.release()
  }

  test("a dropped table's stale plain dir is not readable through the " +
    "manifest (authoritative resolution), and is GC'd out of grace") {
    val root = tmp("graft-man-drop")
    write(root.resolve("t"), Seq(1L))
    write(root.resolve("tombstones"), Seq(9L))
    Manifest.publishRewrite(spark, root,
      Seq(Manifest.TableRewrite("t", None, df => df)),
      drop = Seq("tombstones"))
    assert(java.nio.file.Files.isDirectory(root.resolve("tombstones")),
      "plain dir lingers through the grace window")
    assert(!Manifest.tableExists(root.toString, "tombstones"),
      "but the manifest is authoritative: the table is gone")
    Manifest.publishRewrite(spark, root,
      Seq(Manifest.TableRewrite("t", None, df => df)))
    Manifest.publishRewrite(spark, root,
      Seq(Manifest.TableRewrite("t", None, df => df)))
    assert(!java.nio.file.Files.isDirectory(root.resolve("tombstones")),
      "out of grace, the dir is collected")
    Fs.deleteRecursively(root)
  }
}

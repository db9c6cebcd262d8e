package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IndexHealth, Similarity}
import graft.util.{Fs, Manifest}

/** The shared persisted-index lifecycle (`ext/PersistedIndex`) across
  * families: a batch that crashed after landing in some of its index's
  * tables heals on retry (the per-table dup gate), every family fails
  * maintenance on a table without its declared partition columns, and
  * the tombstone-debt report counts members from the family value. */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def table(dir: String, t: String): DataFrame =
    spark.read.parquet(Manifest.tablePath(dir, t))

  /** Rows of `t` keyed on `key`: each key must occur exactly once. */
  private def assertOnePerKey(dir: String, t: String, key: String*): Unit = {
    val dups = table(dir, t).groupBy(key.map(col): _*).count()
      .where(col("count") > 1).count()
    assert(dups === 0L, s"$t has duplicated ${key.mkString("/")} rows")
  }

  private def rowSet(dir: String, t: String, cols: String*): Set[Seq[Any]] =
    table(dir, t).select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private val vecs = {
    val dim = 16
    (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 7.3 + j).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("IVF-PQ: a batch that landed in encoded but not base heals on " +
    "retry — one row per id in every table") {
    val idx = Similarity.ivfPqBuild(
      vecs.where(col("vec_id") < 80), "vec_id", "embedding",
      k = 4, dim = Some(16))
    val batch = vecs.where(col("vec_id") >= 80)
    val dir = Files.createTempDirectory("graft-pi-ivfpq").toString
    val ref = Files.createTempDirectory("graft-pi-ivfpq-ref").toString
    try {
      Similarity.ivfPqIndexWrite(idx, dir)
      Similarity.ivfPqIndexWrite(idx, ref)
      Similarity.ivfPqIndexAppendIdempotent(
        spark, ref, batch, "vec_id", "embedding")
      // the crash: the batch's encoded rows landed, its base rows did not
      table(ref, "encoded").where(col("id") >= 80)
        .write.mode("append").partitionBy("c")
        .parquet(Manifest.tablePath(dir, "encoded"))
      assert(table(dir, "base").where(col("id") >= 80).count() === 0L)
      Similarity.ivfPqIndexAppendIdempotent(
        spark, dir, batch, "vec_id", "embedding")
      for (t <- Seq("encoded", "base")) {
        assertOnePerKey(dir, t, "id")
        assert(table(dir, t).count() === 120L, t)
      }
      assert(rowSet(dir, "encoded", "id", "c", "codes") ===
        rowSet(ref, "encoded", "id", "c", "codes"))
      assert(rowSet(dir, "base", "id", "c", "v") ===
        rowSet(ref, "base", "id", "c", "v"))
    } finally Seq(dir, ref).foreach(d => Fs.deleteRecursively(
      java.nio.file.Paths.get(d)))
    graft.ext.Caches.release()
  }

  test("minhash: a batch that landed in postings but not sizes/buckets " +
    "heals on retry — one row per id in every table") {
    val words = Seq("spark", "query", "table", "row", "scan", "merge",
      "join", "filter", "sort", "hash", "index", "block", "chain")
    val docs = (0 until 30).map { i =>
      (i.toLong,
        (0 until 40).map(j => words((i * 5 + j * j) % words.size))
          .mkString(" "))
    }.toDF("doc_id", "text")
    val seed = docs.where(col("doc_id") < 20)
    val batch = docs.where(col("doc_id") >= 20)
    val dir = Files.createTempDirectory("graft-pi-mh").toString
    val ref = Files.createTempDirectory("graft-pi-mh-ref").toString
    try {
      Dedup.minhashIndexWrite(seed, "doc_id", "text", dir)
      Dedup.minhashIndexWrite(seed, "doc_id", "text", ref)
      Dedup.minhashIndexAppend(batch, "doc_id", "text", ref)
      // the crash: the batch's postings landed, sizes/buckets did not
      table(ref, "postings").where(col("id") >= 20)
        .write.mode("append").parquet(Manifest.tablePath(dir, "postings"))
      Dedup.minhashIndexAppend(batch, "doc_id", "text", dir)
      assertOnePerKey(dir, "postings", "id", "g")
      assertOnePerKey(dir, "sizes", "id")
      assertOnePerKey(dir, "buckets", "id", "band")
      for ((t, cs) <- Seq(
          "postings" -> Seq("id", "g"),
          "sizes" -> Seq("id", "n"),
          "buckets" -> Seq("id", "band", "bh", "bucket_n"))) {
        assert(rowSet(dir, t, cs: _*) === rowSet(ref, t, cs: _*), t)
        assert(table(dir, t).count() === table(ref, t).count(), t)
      }
    } finally Seq(dir, ref).foreach(d => Fs.deleteRecursively(
      java.nio.file.Paths.get(d)))
    graft.ext.Caches.release()
  }

  test("maintenance rejects a table without its declared partition " +
    "columns") {
    val idx = Similarity.ivfPqBuild(
      vecs.where(col("vec_id") < 80), "vec_id", "embedding",
      k = 4, dim = Some(16))
    val dir = Files.createTempDirectory("graft-pi-layout").toString
    try {
      Similarity.ivfPqIndexWrite(idx, dir)
      // rewrite base without its cell partitioning
      val basePath = java.nio.file.Paths.get(Manifest.tablePath(dir, "base"))
      val flat = java.nio.file.Paths.get(dir, "_flat_base")
      table(dir, "base").select("id", "v").write.parquet(flat.toString)
      Fs.deleteRecursively(basePath)
      Files.move(flat, basePath)
      Similarity.IvfPqFamily.delete(dir, Seq(5L).toDF("vec_id"), "vec_id")
      val e = intercept[IllegalArgumentException] {
        Similarity.IvfPqFamily.compact(spark, dir)
      }
      assert(e.getMessage.contains("partition columns c"))
      intercept[IllegalArgumentException] {
        Similarity.ivfPqIndexAppendIdempotent(spark, dir,
          vecs.where(col("vec_id") >= 80), "vec_id", "embedding")
      }
    } finally Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.ext.Caches.release()
  }

  test("tombstone report counts sign-band members once (band 0), not " +
    "once per chunk") {
    val idx = Similarity.signBandIndexBuild(
      vecs, "vec_id", "embedding", dim = 16)
    val dir = Files.createTempDirectory("graft-pi-band").toString
    try {
      Similarity.signBandIndexWrite(idx, dir)
      // 200 is not a member: it must not count as tombstoned
      Similarity.SignBandFamily.delete(
        dir, Seq(3L, 7L, 200L).toDF("vec_id"), "vec_id")
      val r = IndexHealth.tombstoneReport(spark, dir, "band").head()
      assert(r.getString(0) === "band")
      assert(r.getLong(1) === 118L) // live members
      assert(r.getLong(2) === 2L) // tombstoned members
      assert(r.getLong(3) === 2L * 1000000L / 120L)
    } finally Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}

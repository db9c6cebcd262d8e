package graft

import org.apache.spark.sql.functions._
import graft.sink.{ClickHouseDdl, Replacing}

/** The background merge (ReplacingMergeTree's physical collapse): after
  * duplicated appends, `Replacing.merge` must (1) leave reads equal to
  * what dedupView showed before it, (2) actually shrink rows and files,
  * (3) honor bucket scoping so a merge can touch only the hot tail.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def table(n: Int, v: Int) =
    (0 until n).map(i => (100L + i, s"k$i", s"val$v", v.toLong))
      .toDF("block_height", "key", "payload", "version")

  private val key = Seq("block_height", "key")
  // keys k0..k39 are all distinct, so every bucket file gets a filter
  private val layout = ClickHouseDdl.Layout(primaryKey = key, orderBy = key,
    nullable = Set.empty, heightCol = "block_height", bloom = Seq("key"))

  test("merge collapses duplicate keys, preserves the dedupView contract") {
    val out = java.nio.file.Files.createTempDirectory("graft-merge").toString
    // two appends of the same 40 keys: version 1 then version 2
    Replacing.appendWrite(table(40, 1), s"$out/t", "block_height", key,
      layout.bloom, step = 10L)
    Replacing.appendWrite(table(40, 2), s"$out/t", "block_height", key,
      layout.bloom, step = 10L)

    val before = spark.read.parquet(s"$out/t")
    assert(before.count() === 80)
    val viewBefore = Replacing
      .dedupView(before, key, versionCol = Some("version"))
      .select("block_height", "key", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(viewBefore.size === 40)
    assert(viewBefore.values.forall(_ == "val2")) // latest version wins

    Replacing.merge(spark, s"$out/t", layout, versionCol = Some("version"))

    val after = spark.read.parquet(s"$out/t")
    assert(after.count() === 40) // physically collapsed
    val viewAfter = after
      .select("block_height", "key", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(viewAfter === viewBefore) // reads unchanged by the merge
    SinkLayout.assertFiles(spark, s"$out/t", "block_height", key, 10L)
    SinkLayout.assertBlooms(spark, s"$out/t", layout.bloom) // merged buckets keep blooms
    // no temp residue
    assert(!new java.io.File(s"$out/t__merge_tmp").exists())
  }

  test("merge after a crash mid-swap restores the parked bucket") {
    val out = java.nio.file.Files.createTempDirectory("graft-merge-crash").toString
    Replacing.appendWrite(table(40, 1), s"$out/t", "block_height", key, step = 10L)
    Replacing.appendWrite(table(40, 2), s"$out/t", "block_height", key, step = 10L)
    def view() = Replacing
      .dedupView(spark.read.parquet(s"$out/t"), key, versionCol = Some("version"))
      .select("block_height", "key", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    val viewBefore = view()
    assert(viewBefore.size === 40)
    // the state a crash leaves between parking bucket 110 and renaming
    // its merged copy into place: the old rows parked, the target gone
    val parked = java.nio.file.Paths.get(s"$out/t__merge_old")
    java.nio.file.Files.createDirectories(parked)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$out/t/height_bucket=110"),
      parked.resolve("height_bucket=110"))

    Replacing.merge(spark, s"$out/t", layout, versionCol = Some("version"))

    assert(view() === viewBefore)
    assert(spark.read.parquet(s"$out/t").count() === 40)
    assert(!java.nio.file.Files.exists(parked))
  }

  test("merge rewrites each bucket file in ORDER BY order") {
    // multi-partition input: with the tiny shuffle coalesced to one
    // partition the dedup window's own sort survives and hides a
    // rewrite that does not sort by the key
    val out = java.nio.file.Files.createTempDirectory("graft-merge-sort").toString
    Replacing.appendWrite(table(400, 1).repartition(8), s"$out/t", "block_height",
      key, step = 100L)
    Replacing.appendWrite(table(400, 2).repartition(8), s"$out/t", "block_height",
      key, step = 100L)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Replacing.merge(spark, s"$out/t", layout, versionCol = Some("version"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert(spark.read.parquet(s"$out/t").count() === 400)
    SinkLayout.assertFiles(spark, s"$out/t", "block_height", key, 100L)
  }

  test("bucket-scoped merge touches only the requested buckets") {
    val out = java.nio.file.Files.createTempDirectory("graft-merge2").toString
    Replacing.appendWrite(table(40, 1), s"$out/t", "block_height", key, step = 10L)
    Replacing.appendWrite(table(40, 2), s"$out/t", "block_height", key, step = 10L)
    // heights 100..139 -> buckets 100,110,120,130; merge only the tail
    Replacing.merge(spark, s"$out/t", layout, versionCol = Some("version"),
      buckets = Some(Seq(130L)))
    val t = spark.read.parquet(s"$out/t")
    assert(t.where(col("height_bucket") === 130L).count() === 10)
    assert(t.where(col("height_bucket") =!= 130L).count() === 60) // untouched
  }
}
